package graft

/** The growth probe's table and fit, checked without running the table:
  * building and selecting entries must not start a Spark job. */
class ScaleProbeSpec extends SparkSpec {

  private def noJobs[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup("scale-probe-spec", "no jobs expected")
    try {
      val r = body
      assert(sc.statusTracker.getJobIdsForGroup("scale-probe-spec").isEmpty)
      r
    } finally sc.clearJobGroup()
  }

  private lazy val table = noJobs(ScaleProbe.table(spark, sf()))

  test("growth exponent: the slope of log(sec) on log(x)") {
    val xs = Seq(1.0, 4.0, 16.0, 64.0)
    for ((sec, k) <- Seq[(Double => Double, Double)](
        (x => x, 1.0), (x => x * x, 2.0), (_ => 3.5, 0.0), (x => 0.2 * math.pow(x, 1.5), 1.5)))
      assert(math.abs(ScaleProbe.growthExponent(xs.map(x => (x, sec(x)))) - k) < 1e-9)
    assert(ScaleProbe.growthExponent(Seq((4.0, 1.0), (4.0, 2.0))).isNaN)
  }

  test("entry names are unique; every section named by a scaladoc is in the table") {
    val names = table.map(_.name)
    assert(names.distinct.size === names.size)
    val sections = names.map(ScaleProbe.section).toSet
    for (s <- Seq("budget_skew", "percentiles", "semdedup", "substring", "ann_descent",
        "dbscan", "dbscan_ann", "pagerank_fallback", "kcore_fallback", "hyperball",
        "jaccard_hub", "components", "heavy_hitters"))
      assert(sections.contains(s), s)
    assert(table.forall(e => e.xs.nonEmpty && e.xs.forall(_ >= 1)))
  }

  test("selection: an entry, a whole section, or everything; an unknown name is rejected") {
    noJobs {
      assert(ScaleProbe.select(table, Nil) === table)
      assert(ScaleProbe.select(table, Seq("dbscan_ann")).map(_.name) === Seq("dbscan_ann"))
      assert(ScaleProbe.select(table, Seq("dbscan")).map(_.name) === Seq("dbscan.pairs", "dbscan"))
      assert(ScaleProbe.select(table, Seq("hyperball.shuffle", "components")).map(_.name) ===
        Seq("components", "hyperball.shuffle"))
      val err = intercept[IllegalArgumentException](
        ScaleProbe.select(table, Seq("components", "agg_join")))
      assert(err.getMessage.contains("agg_join"))
      assert(table.forall(e => err.getMessage.contains(e.name)))
    }
  }
}
