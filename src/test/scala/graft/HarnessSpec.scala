package graft

import graft.operators.{DistributedRank, Mixture, PlanCache}

/** The shared harness: query selection, run-and-release, and the session
  * settings every main gets.
  */
class HarnessSpec extends SparkTestBase {

  test("select sorts, filters by the subset, and rejects unknown names") {
    val all = Harness.select(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(Harness.select(Some("tpch_q1_pricing,hourly_agg")).map(_._1) ==
      Seq("hourly_agg", "tpch_q1_pricing"))
    val e = intercept[IllegalArgumentException](
      Harness.select(Some("hourly_agg,no_such_query,hourly_aggg")))
    assert(e.getMessage.contains("hourly_aggg, no_such_query"), e.getMessage)
  }

  test("run releases both per-query owners after a body returns or throws") {
    import org.apache.spark.sql.functions.col
    def pinBoth(): Unit = {
      DistributedRank.withGlobalRank(spark.range(20).toDF("x"), Seq(col("x")))
        .count()
      PlanCache.addPins(spark, Mixture, spark.range(5).toDF("y").persist())
      assert(PlanCache.pinnedFrames(spark, DistributedRank).nonEmpty)
      assert(PlanCache.pinnedFrames(spark, Mixture).nonEmpty)
    }
    def unpinned(): Boolean =
      PlanCache.pinnedFrames(spark, DistributedRank).isEmpty &&
        PlanCache.pinnedFrames(spark, Mixture).isEmpty

    assert(Harness.run(spark) { pinBoth(); 7 } == Right(7))
    assert(unpinned())
    val boom = new IllegalStateException("boom")
    assert(Harness.run(spark) { pinBoth(); throw boom } == Left(boom))
    assert(unpinned())
  }

  test("session() installs every native SQL function, in new sessions too") {
    // the test session is Harness.session(4); nothing here registers
    val names = GraftExtensions.natives.map(_.name)
    assert(names.size == 8 && names.distinct == names)
    for (s <- Seq(spark, spark.newSession()); n <- names)
      assert(s.catalog.functionExists(n), s"$n is not a function of $s")
  }

  test("session() is UTC with one shuffle partition per CPU") {
    // getOrCreate hands back the shared test session with the harness's
    // SQL settings applied: restore them for the suites that follow
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.session.timeZone")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    try {
      // start from other values so the assertions see session() set them
      spark.conf.set("spark.sql.shuffle.partitions", (Harness.cpus + 1).toString)
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val s = Harness.session(Harness.cpus)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.shuffle.partitions") == Harness.cpus.toString)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
