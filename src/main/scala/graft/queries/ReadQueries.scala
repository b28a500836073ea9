package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference API's five declarative read queries (SURVEY.md §2.4),
  * expressed as parameterized DataFrame transformations over the derived
  * hourly-aggregation table.
  *
  * Reference: `api/src/routers/aggregations.py` + the SQL templates under
  * `api/src/infrastructure/queries/`. Postgres's planner work (index-assisted
  * filter/sort/limit) is delegated to Catalyst: conditional `.filter` chains
  * compile to pushed-down predicates, and orderBy+limit plans as
  * `TakeOrderedAndProject` (top-K per partition + driver merge — no global
  * sort, which is what makes Q2-style recency queries viable at 100 TB).
  * Q3–Q5 end in one row per event type, so they `coalesce(1)` after the
  * grouped aggregate and sort in that one partition: a global sort would
  * add a sampling job and a range exchange to order at most a handful of
  * rows. The partial aggregate still runs across tasks; the final merge of
  * at most one row per event type runs in the one coalesced task.
  */
object ReadQueries {

  /** Q1 — `get_aggregations` (get_aggregations.sql:1-7, aggregations.py:58-96):
    * optional conjunctive predicates, ORDER BY window_start DESC, LIMIT/OFFSET.
    * event_type is appended as a deterministic tiebreak so pagination is
    * stable (the reference relies on Postgres's incidental ordering).
    */
  def getAggregations(
      agg: DataFrame,
      eventType: Option[String] = None,
      fromTime: Option[String] = None,
      toTime: Option[String] = None,
      limit: Int = 100,
      offset: Int = 0): DataFrame = {
    // Reference clamps: limit in [1, 1000], offset >= 0 (aggregations.py:63-64).
    val lim = math.max(1, math.min(limit, 1000))
    val off = math.max(0, offset)
    val filtered = Seq(
      eventType.map(t => col("event_type") === lit(t)),
      fromTime.map(t => col("window_start") >= to_timestamp(lit(t))),
      toTime.map(t => col("window_end") <= to_timestamp(lit(t)))
    ).flatten.foldLeft(agg)((df, p) => df.filter(p))
    filtered
      .orderBy(desc("window_start"), asc("event_type"))
      .offset(off)
      .limit(lim)
  }

  /** O15 — the processor's in-memory status snapshot
    * (aggregation_service.py:188-209) as a relational aggregate over the
    * window table: totals, window count, per-run earliest window end.
    */
  def memoryStatus(agg: DataFrame): DataFrame =
    agg.agg(
      sum(col("event_count")).as("total_event_count"),
      count(lit(1)).as("active_window_count"),
      min(col("window_end")).as("earliest_window_end"),
      max(col("window_end")).as("latest_window_end"))

  /** Q2 — `get_latest_aggregations` (get_latest_aggregations.sql:1-6): top-K
    * by recency. The reference orders by the nondeterministic ingest stamp
    * `created_at`; we order by the semantic recency key (window_start, then
    * event_type) so results are reproducible.
    */
  def getLatest(agg: DataFrame, limit: Int = 10): DataFrame =
    agg.orderBy(desc("window_start"), desc("event_type")).limit(limit)

  /** Q2 FAITHFUL spelling — the reference's literal
    * `ORDER BY created_at DESC` with the full select list
    * (get_latest_aggregations.sql:1-6), over the audit-stamped table
    * ([[graft.operators.HourlyAggregation.withAudit]] derives
    * `created_at`/`id` deterministically). `id DESC` is the
    * deterministic stand-in for the reference's tie order among rows
    * flushed at the same instant (SERIAL insertion order).
    */
  def getLatestByCreatedAt(aggWithAudit: DataFrame, limit: Int = 10): DataFrame =
    aggWithAudit
      .select(col("id"), col("window_start"), col("window_end"),
        col("event_type"), col("event_count"), col("unique_user_count"),
        col("total_value"), col("avg_value"), col("created_at"))
      .orderBy(desc("created_at"), desc("id"))
      .limit(limit)

  /** Q3 — `get_stats` (get_stats.sql:1-11): grouped rollup over windows.
    * Deliberately preserves the reference's double-counting semantics: it
    * sums per-window distinct user counts, so a user active in N hours
    * counts N times (SURVEY.md §2.4 Q3 warning — preserve, don't "fix").
    */
  def getStats(
      agg: DataFrame,
      fromTime: Option[String] = None,
      toTime: Option[String] = None): DataFrame = {
    val filtered = Seq(
      fromTime.map(t => col("window_start") >= to_timestamp(lit(t))),
      toTime.map(t => col("window_end") <= to_timestamp(lit(t)))
    ).flatten.foldLeft(agg)((df, p) => df.filter(p))
    filtered
      .groupBy(col("event_type"))
      .agg(
        sum(col("event_count")).as("total_events"),
        sum(col("unique_user_count")).as("total_unique_users"),
        // long/long division on bit-identical operands — deterministic
        // double, no rounding needed (cf. HourlyAggregation avg note)
        (sum(col("event_count")) / count(lit(1))).as("avg_events_per_hour"),
        count(lit(1)).as("window_count"))
      .coalesce(1)
      .orderBy(desc("total_events"), asc("event_type"))
  }

  /** Q4 — `get_event_types` (get_event_types.sql:1-3): DISTINCT + sort. */
  def getEventTypes(agg: DataFrame): DataFrame =
    agg.select(col("event_type")).distinct().coalesce(1).orderBy(asc("event_type"))

  /** Q5 — README.md:126-128 ad-hoc rollup: grouped sum of event counts. */
  def groupedSum(agg: DataFrame): DataFrame =
    agg
      .groupBy(col("event_type"))
      .agg(sum(col("event_count")).as("total_events"))
      .coalesce(1)
      .orderBy(asc("event_type"))
}
