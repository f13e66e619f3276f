package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.SmallInput.distributed

/** Arm-equality pins for the quantile-family driver arms (optimization
  * round): the in-memory arm must be row-identical — values AND schema —
  * to the distributed rank chain it replaces, on the real sf0.001 tables
  * (nontrivial groups/ties) plus adversarial fixtures (ties across the
  * would-be slice boundaries, single-row groups). The distributed chain
  * stays the over-cap 100 TB path; these pins are what let the bench take
  * the arm without weakening the oracle. */
class AggDriverArmSpec extends SparkSpec {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("percentilesOf: driver arm ≡ distributed arm on sf0.001 lineitem") {
    val li = graft.catalog.Tables.lineitem(spark, sf())
    val ps = Seq(0.25, 0.5, 0.75)
    val arm = Aggs.percentilesOf(li, ps)
    val dist = distributed(Aggs.percentilesOf(li, ps))
    assert(arm.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(rowsOf(arm) === rowsOf(dist))
  }

  test("percentilesOf: arm ≡ distributed on an all-ties / single-row fixture") {
    import spark.implicits._
    val li = Seq(
      ("A", 10.0), ("A", 10.0), ("A", 10.0), ("A", 20.0),
      ("B", 5.5)).toDF("l_returnflag", "l_extendedprice").repartition(3)
    val ps = Seq(0.1, 0.5, 0.9)
    assert(rowsOf(Aggs.percentilesOf(li, ps)) ===
      rowsOf(distributed(Aggs.percentilesOf(li, ps))))
  }

  test("weighted median: driver arm ≡ distributed arm on sf0.001 lineitem") {
    val li = graft.catalog.Tables.lineitem(spark, sf())
    val arm = Aggs.weightedMedianDriver(spark, li).get
    val dist = Aggs.weightedMedianDistributed(spark, li)
    assert(arm.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(rowsOf(arm) === rowsOf(dist))
  }

  test("weighted median: arm ≡ distributed when the crossing lands on a tie run") {
    import spark.implicits._
    // group X: W=10, half=5; cum at x=1.0 is 2, the tie run at x=2.0
    // carries cum to 8 — the crossing is INSIDE the tie run and the
    // RANGE-frame aggregation must keep it at x=2.0 on both arms
    val li = Seq(
      ("X", 1.0, 2L), ("X", 2.0, 3L), ("X", 2.0, 3L), ("X", 9.0, 2L),
      ("Y", 4.0, 1L)).toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .repartition(4)
    assert(rowsOf(Aggs.weightedMedianDriver(spark, li).get) ===
      rowsOf(Aggs.weightedMedianDistributed(spark, li)))
  }

  test("gini: driver arm ≡ distributed arm on sf0.001 orders") {
    val ord = graft.catalog.Tables.orders(spark, sf())
    val arm = Aggs.giniDriver(spark, ord).get
    val dist = Aggs.giniDistributed(spark, ord)
    assert(arm.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(rowsOf(arm) === rowsOf(dist))
  }

  test("quantile rollup: driver arm ≡ distributed frames on sf0.001 lineitem") {
    val li = graft.catalog.Tables.lineitem(spark, sf())
    val width = 16384L
    val qs = Seq(50, 90, 99)
    val arm = graft.operators.Freq.quantileRollupDriver(spark,
      li.select(floor(col("l_extendedprice") * 100).cast("long").as("v")),
      width, qs).get
    val dist = graft.operators.Freq.quantileRollupFrames(
      li.select(col("l_shipdate").cast("date").as("day"),
        floor(col("l_extendedprice") * 100).cast("long").as("v")),
      width, qs)
    assert(arm.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(rowsOf(arm) === rowsOf(dist))
  }

  test("kmv intersect: driver arm ≡ distributed frames on sf0.001 membership") {
    import spark.implicits._
    val dir = sf()
    val m = graft.catalog.Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey")
      .join(broadcast(graft.catalog.Tables.part(spark, dir)
        .filter($"p_brand".isin("Brand#11", "Brand#22"))
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .join(graft.catalog.Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey"), $"l_orderkey" === $"o_orderkey")
      .select($"p_brand".as("st"), $"o_custkey".as("mem"))
    val arm = Aggs.kmvIntersectDriver(spark, m).get
    val dist = Aggs.kmvIntersectDistributed(spark, m)
    assert(arm.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(rowsOf(arm) === rowsOf(dist))
  }

  test("quantile rollup: arm handles negative values (floor-div buckets)") {
    import spark.implicits._
    // negative v across the bucket-0 boundary: floorDiv must match the
    // frame's (v - pmod(v, width)) div width — NOT truncate-toward-zero
    val vals = Seq(-5L, -16384L, -16385L, 0L, 1L, 16383L, 16384L)
      .toDF("v")
    val withDay = vals.select(lit(java.sql.Date.valueOf("2024-01-01")).as("day"), col("v"))
    val arm = graft.operators.Freq.quantileRollupDriver(spark, vals,
      16384L, Seq(50, 90, 99)).get
    val dist = graft.operators.Freq.quantileRollupFrames(withDay,
      16384L, Seq(50, 90, 99))
    assert(rowsOf(arm) === rowsOf(dist))
  }
}
