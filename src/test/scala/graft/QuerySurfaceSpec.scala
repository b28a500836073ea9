package graft

/** Driver simulation: every entry in SparkEntry.queries must EXECUTE at
  * sf0.001 and return the same row count on a second run (determinism
  * policy — no rand(), no time-dependence, stable under re-execution).
  * This is the in-CI guard against the failure class where the query map
  * compiles but a query throws at driver time (or silently flaps).
  */
class QuerySurfaceSpec extends SparkTestBase {

  test("every driver query executes and is re-run stable at sf0.001") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val c1 = fn(spark, sf).count()
        val c2 = fn(spark, sf).count()
        if (c1 != c2) failures += s"$name: non-deterministic count ($c1 vs $c2)"
      } catch {
        case e: Throwable => failures += s"$name: ${e.getClass.getSimpleName} ${e.getMessage}"
      } finally graft.operators.PlanCache.releasePerQuery(spark)
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("oracle map refers only to existing queries; flagship entry returns rows") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a query name given twice is rejected, not silently overwritten") {
    val build: Harness.Query = (s, dir) => Tables.events(s, dir)
    val e = intercept[IllegalArgumentException](QuerySpec.index(Seq(
      new QuerySpec("hourly_agg", build, Some("SELECT 1")),
      new QuerySpec("q4_event_types", build, Some("SELECT 2")),
      new QuerySpec("hourly_agg", build, None))))
    assert(e.getMessage.contains("duplicate query names: hourly_agg"), e.getMessage)
  }

  test("a subset's oracle map reads the embeddings only when it names an ANN query") {
    // a directory with events.parquet alone serves perm_test_ab, so its
    // oracle map must not resolve the ANN pins (which read embeddings)
    val dir = java.nio.file.Files.createTempDirectory("graft_events_only")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "events.parquet"),
      dir.resolve("events.parquet"))
    try {
      val m = SparkEntry.oracleSqlFor(spark, dir.toString, Set("perm_test_ab"))
      assert(m.keySet == Set("perm_test_ab"))
      val e = intercept[org.apache.spark.sql.AnalysisException](
        SparkEntry.oracleSqlFor(spark, dir.toString, Set("perm_test_ab", "ann_ivf")))
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    } finally {
      java.nio.file.Files.delete(dir.resolve("events.parquet"))
      java.nio.file.Files.delete(dir)
    }
  }

  test("the queries without a static oracle are exactly the ANN pins") {
    val pinnedOnly = SparkEntry.specs.filter(_.oracle.isEmpty).map(_.name)
    assert(pinnedOnly.sorted == AnnOracles.names.sorted)
  }

  test("after a full query run, EVERY query has an oracle (Verify dump order)") {
    // As of round 4 no query is rows-only: the pinned ANN oracles
    // materialize once the ANN queries have run, which is exactly Verify's
    // dump order (queries first, oracle_sql.json second). Verify dumps
    // oracleSqlFor (pins keyed to the verified dataset + the SparkEntry
    // default parameters), so that is the map whose completeness gates the
    // driver — the context-free SparkEntry.oracleSql deliberately drops
    // ANN entries when other suites' differently-parameterized fits
    // coexist in this JVM (the documented sole-fit fallback), which is a
    // property of the fallback, not a missing oracle.
    SparkEntry.queries("ann_ivf")(spark, sf).count()
    SparkEntry.queries("ann_pq")(spark, sf).count()
    SparkEntry.queries("ann_ivfpq")(spark, sf).count()
    SparkEntry.queries("semantic_dedup")(spark, sf).count() // semSql pin too
    SparkEntry.queries("embedding_clusters")(spark, sf).count() // clusterSql pin
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSqlFor(spark, sf).keySet
    assert(missing.isEmpty, s"queries without oracles after a run: $missing")
  }
}
