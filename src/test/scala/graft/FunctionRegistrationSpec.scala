package graft

/** The native SQL functions come from the session's [[GraftExtensions]],
  * installed once when [[Harness.session]] builds it: no query build or
  * view registration registers them again, so Spark never warns that a
  * function replaced a previously registered one.
  */
class FunctionRegistrationSpec extends SparkTestBase {
  private val replaced = "replaced a previously registered function"

  test("WarnCapture sees Spark's warning for a re-registered function") {
    val (_, warns) = WarnCapture {
      spark.udf.register("graft_warn_probe", (x: Long) => x + 1)
      spark.udf.register("graft_warn_probe", (x: Long) => x + 2)
    }
    spark.sql("DROP TEMPORARY FUNCTION graft_warn_probe")
    assert(warns.count(_.contains(replaced)) == 1, warns.mkString("\n"))
  }

  test("query builds and view registration register no function again") {
    val build = SparkEntry.queries("doc_fingerprints_sql")
    val ((first, second), warns) = WarnCapture {
      val a = build(spark, sf).collect().toSeq
      val b = build(spark, sf).collect().toSeq
      GraftSql.registerViews(spark, sf)
      (a, b)
    }
    assert(first.nonEmpty)
    assert(first == second)
    val hits = warns.filter(_.contains(replaced))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
