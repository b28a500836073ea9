package graft.obs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Observability (SURVEY.md §2.9): the reference's Prometheus counters /
  * gauges / histograms map to Spark observable metrics + listeners — no
  * data-path operator, no extra pass over the data.
  *
  *   - per-batch counters (events consumed by type, error counts) →
  *     `df.observe(...)` aggregates, collected by [[ObservedMetricsListener]]
  *     (batch) / StreamingQueryProgress.observedMetrics (streaming).
  */
object Metrics {

  /** Attach the standard pipeline counters to an event frame: total rows,
    * rows with null value, distinct-ish user reach (HLL approximation is
    * fine for a gauge). Zero extra passes — observe() piggybacks on
    * whatever action evaluates the frame.
    */
  def observed(events: DataFrame, name: String = "graft_pipeline"): DataFrame =
    events.observe(
      name,
      count(lit(1)).as("events_total"),
      count(when(col("value").isNull, 1)).as("null_value_events"),
      approx_count_distinct(col("user_id")).as("approx_users"))

  /** Batch-side collector for observe() metrics. */
  class ObservedMetricsListener extends QueryExecutionListener {
    private val buf = new ConcurrentLinkedQueue[(String, Map[String, Any])]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        buf.add(name -> row.schema.fieldNames.zip(row.toSeq).toMap)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def collected: Seq[(String, Map[String, Any])] = buf.asScala.toSeq
  }

  def registerBatchListener(spark: SparkSession): ObservedMetricsListener = {
    val l = new ObservedMetricsListener
    spark.listenerManager.register(l)
    l
  }
}
