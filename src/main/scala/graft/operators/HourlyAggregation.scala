package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference engine's heart: hourly tumbling-window aggregation.
  *
  * Reproduces the accumulator semantics of
  * `processor/src/domain/aggregation.py:46-67` (reference repo):
  *   - O1 calendar-aligned hour window (`aggregation.py:48-49`)
  *   - O2 grouping by (window, event_type) (`aggregation.py:51`)
  *   - O3 COUNT(*) (`aggregation.py:61`)
  *   - O4 exact COUNT(DISTINCT user) (`aggregation.py:16,62`)
  *   - O6/O7/O8 null-skipping SUM / non-null COUNT / AVG-null-on-empty
  *     (`aggregation.py:65-67,31-36`)
  *   - O12 record projection (`aggregation.py:104-117`)
  *
  * The harness `events` table carries `value: double` where the reference
  * carries `duration_ms`; the aggregation contract (null-skipping sum, avg
  * null on empty group) is identical. Expressed as a single declarative
  * `groupBy(window(...))` so Catalyst plans partial+final hash aggregation
  * with map-side combine — at 100 TB the shuffle carries only
  * (hour x event_type) partial states, not events. `countDistinct` is the
  * one agg that forces a per-key expand; cardinality here is bounded by the
  * user pool per hour, and Spark plans it as a two-phase distinct aggregate.
  */
object HourlyAggregation {

  /** Full aggregate table, one row per (hour, event_type). Measure columns
    * are rounded (2dp for sums, 4dp for avgs) to make double aggregation
    * order-independent for the correctness oracle.
    */
  def apply(events: DataFrame): DataFrame =
    byHour(events, countDistinct(col("user_id")))

  /** The grouping, measures and projection of [[apply]], with the
    * distinct-user aggregate as the one part that varies: batch counts
    * with `countDistinct`, the streaming form
    * ([[graft.streaming.StreamingAgg]]) with its exact-distinct UDAF.
    */
  private[graft] def byHour(events: DataFrame, uniqueUsers: Column): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        uniqueUsers.as("unique_user_count"),
        round(sum(col("value")), 2).as("total_value"),
        // avg derived as round(sum,2)/count rather than avg()+round: the
        // operands are bit-identical across engines (a sum of 2-decimal
        // inputs rounds to the same double everywhere), so the IEEE
        // division is too — no quotient rounding, no half-boundary drift.
        (round(sum(col("value")), 2) / count(col("value"))).as("avg_value"))
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("event_type"),
        col("event_count"),
        col("unique_user_count"),
        col("total_value"),
        col("avg_value"))

  /** The reference table's audit columns, derived DETERMINISTICALLY so the
    * faithful Q2 (`ORDER BY created_at DESC`, get_latest_aggregations.sql:5)
    * and the SERIAL `id` surrogate (001_initial_schema.sql:2) become
    * oracle-expressible:
    *   - `created_at` = window_end + 60 s grace — the instant the window
    *     becomes flushable (the reference stamps NOW() at flush,
    *     upsert_aggregation.sql:9 + config grace 60 s; for an
    *     in-order stream the first eligible flush tick IS end+grace);
    *   - `id` = the global rank over (created_at, event_type) — insertion
    *     order of a SERIAL under deterministic flush ordering, computed
    *     by [[DistributedRank]] (no single-partition window at scale).
    */
  def withAudit(agg: DataFrame): DataFrame =
    DistributedRank.withGlobalRank(
      agg.withColumn("created_at",
        col("window_end") + expr("INTERVAL 60 SECONDS")),
      Seq(col("created_at"), col("event_type")),
      rankCol = "id")

  /** The canonical DuckDB-SQL equivalent, used as a CTE by every oracle that
    * reads the derived aggregate table. Must stay column-for-column in sync
    * with [[apply]].
    */
  val oracleCte: String =
    """SELECT date_trunc('hour', ts) AS window_start,
      |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      |       event_type,
      |       count(*) AS event_count,
      |       count(DISTINCT user_id) AS unique_user_count,
      |       round(sum(value), 2) AS total_value,
      |       round(sum(value), 2) / count(value) AS avg_value
      |FROM events
      |GROUP BY 1, 2, 3""".stripMargin
}
