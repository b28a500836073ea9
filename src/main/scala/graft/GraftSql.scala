package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-first entry point: registers the harness tables as temp views and
  * the derived `hourly_aggregations` table. With the native functions that
  * [[GraftExtensions]] installs in the session, the whole engine surface is
  * then reachable from `spark.sql`:
  *
  * {{{
  *   GraftSql.registerViews(spark, "/root/testdata/sf0.01")
  *   spark.sql("SELECT event_type, sum(event_count) FROM hourly_aggregations GROUP BY 1")
  *   spark.sql("SELECT doc_id, rolling_hash(text) FROM documents")
  * }}}
  */
object GraftSql {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def registerViews(spark: SparkSession, dir: String): Unit = {
    tableNames.foreach { t =>
      val df: DataFrame = t match {
        case "events" => Tables.events(spark, dir)
        case other => spark.read.parquet(s"$dir/$other.parquet")
      }
      df.createOrReplaceTempView(t)
    }
    operators.HourlyAggregation(Tables.events(spark, dir))
      .createOrReplaceTempView("hourly_aggregations")
  }
}
