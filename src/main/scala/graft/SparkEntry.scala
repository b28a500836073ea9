package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.TextAnalysis
import graft.operators.{AsOfJoin, Centrality, DataQuality, Dedup, HourlyAggregation, Sessionize, Similarity, Upsert}
import graft.queries.{Analytics, ReadQueries}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 is exposed as a named query over the
  * harness parquet tables, with a matching DuckDB oracle where the semantics
  * are ANSI-SQL-expressible. Column names are aliased identically on both
  * sides (the driver sorts columns by name before hashing), and every query
  * ends in a deterministic total ORDER BY.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    hourlyAgg(spark, "/root/testdata/sf0.001")

  // ---- shared derivations ------------------------------------------------

  private def hourlyAgg(s: SparkSession, dir: String): DataFrame =
    HourlyAggregation(Tables.events(s, dir))
      .orderBy(col("window_start"), col("event_type"))

  /** DuckDB CTE matching [[HourlyAggregation.apply]] output, used by every
    * oracle that queries the derived aggregate table.
    */
  private val aggCte = s"WITH hourly_aggregations AS (${HourlyAggregation.oracleCte})"

  /** Guard clause appended to the documents scan of every oracle that
    * folds per-character ord()/ascii() as FNV/rolling-hash "bytes": the
    * engine side hashes UTF-8 bytes (UTF8String.getBytes), and codepoint
    * == byte only below 0x80 — on non-ASCII text the oracle must fail
    * loudly (error()) instead of silently diverging from the engine.
    * Single-sourced from [[SketchOracles.asciiGuard]].
    */
  private val asciiGuard = SketchOracles.asciiGuard + " = 0"

  // ---- driver contract ---------------------------------------------------

  private lazy val registry: Map[String, QuerySpec] = QuerySpec.index(specs)

  /** Query name -> engine build. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  private lazy val staticOracles: Map[String, String] =
    registry.flatMap { case (name, q) => q.oracle.map(name -> _) }

  /** Parameterless oracle map. The ANN entries come from
    * the unambiguous-pin fallback ([[AnnOracles.pinned]]); graft.Verify
    * dumps [[oracleSqlFor]] instead, which selects the pins for exactly
    * the dataset it verified.
    */
  def oracleSql: Map[String, String] = staticOracles ++ AnnOracles.pinned

  /** Oracle map with the ANN pins resolved for the given data directory —
    * immune to other ANN fits having run in the same JVM.
    */
  def oracleSqlFor(spark: SparkSession, sfDir: String): Map[String, String] =
    staticOracles ++ AnnOracles.pinnedFor(spark, sfDir)

  /** A registry query checked against static DuckDB SQL. */
  private def spec(name: String, build: Harness.Query, oracle: => String): QuerySpec =
    new QuerySpec(name, build, Some(oracle))

  /** Every registry query, written once: its name, its engine build and
    * the static DuckDB SQL it is checked against. The oracle is None only
    * for the ANN queries, whose SQL [[AnnOracles]] pins from a fit at
    * runtime. The maps above are all derived from this list.
    */
  lazy val specs: Seq[QuerySpec] = Seq(
    // O1-O8 + O12: the full windowed-aggregation slice.
    spec("hourly_agg", (s, dir) => hourlyAgg(s, dir),
      s"""$aggCte
         |SELECT * FROM hourly_aggregations
         |ORDER BY window_start, event_type""".stripMargin),

    // Q1: dynamic conjunctive filter + sort + paginate.
    spec("q1_filter_paginate", (s, dir) =>
      ReadQueries.getAggregations(
        HourlyAggregation(Tables.events(s, dir)),
        eventType = Some("purchase"),
        fromTime = Some("2024-01-03 00:00:00"),
        toTime = Some("2024-01-20 00:00:00"),
        limit = 50,
        offset = 10),
      s"""$aggCte
         |SELECT * FROM hourly_aggregations
         |WHERE event_type = 'purchase'
         |  AND window_start >= TIMESTAMP '2024-01-03 00:00:00'
         |  AND window_end <= TIMESTAMP '2024-01-20 00:00:00'
         |ORDER BY window_start DESC, event_type ASC
         |LIMIT 50 OFFSET 10""".stripMargin),

    // Q2: top-K by recency (TakeOrderedAndProject, no global sort).
    spec("q2_latest_topk", (s, dir) =>
      ReadQueries.getLatest(HourlyAggregation(Tables.events(s, dir)), limit = 10),
      s"""$aggCte
         |SELECT * FROM hourly_aggregations
         |ORDER BY window_start DESC, event_type DESC
         |LIMIT 10""".stripMargin),

    // Q2 FAITHFUL: the reference's literal ORDER BY created_at DESC over
    // the audit-stamped table (deterministic created_at = end + grace,
    // id = deterministic SERIAL surrogate via DistributedRank).
    spec("q2_latest_by_created_at", (s, dir) =>
      ReadQueries.getLatestByCreatedAt(
        HourlyAggregation.withAudit(
          HourlyAggregation(Tables.events(s, dir))), limit = 10),
      s"""$aggCte,
         |audited AS (
         |  SELECT *, window_end + INTERVAL 60 SECOND AS created_at
         |  FROM hourly_aggregations),
         |with_id AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY created_at, event_type)
         |    AS BIGINT) AS id
         |  FROM audited)
         |SELECT id, window_start, window_end, event_type, event_count,
         |       unique_user_count, total_value, avg_value, created_at
         |FROM with_id
         |ORDER BY created_at DESC, id DESC
         |LIMIT 10""".stripMargin),

    // Q3: grouped rollup (preserves the reference's double-count semantics).
    spec("q3_stats", (s, dir) =>
      ReadQueries.getStats(
        HourlyAggregation(Tables.events(s, dir)),
        fromTime = Some("2024-01-02 00:00:00")),
      s"""$aggCte
         |SELECT event_type,
         |       CAST(sum(event_count) AS BIGINT) AS total_events,
         |       CAST(sum(unique_user_count) AS BIGINT) AS total_unique_users,
         |       CAST(sum(event_count) AS BIGINT) / count(*) AS avg_events_per_hour,
         |       count(*) AS window_count
         |FROM hourly_aggregations
         |WHERE window_start >= TIMESTAMP '2024-01-02 00:00:00'
         |GROUP BY event_type
         |ORDER BY total_events DESC, event_type ASC""".stripMargin),

    // Q4: DISTINCT event types.
    spec("q4_event_types", (s, dir) =>
      ReadQueries.getEventTypes(HourlyAggregation(Tables.events(s, dir))),
      s"""$aggCte
         |SELECT DISTINCT event_type FROM hourly_aggregations
         |ORDER BY event_type ASC""".stripMargin),

    // Q5: README ad-hoc grouped sum.
    spec("q5_grouped_sum", (s, dir) =>
      ReadQueries.groupedSum(HourlyAggregation(Tables.events(s, dir))),
      s"""$aggCte
         |SELECT event_type, CAST(sum(event_count) AS BIGINT) AS total_events
         |FROM hourly_aggregations
         |GROUP BY event_type
         |ORDER BY event_type ASC""".stripMargin),

    // O15: processor memory-status snapshot as a relational aggregate.
    spec("o15_memory_status", (s, dir) =>
      ReadQueries.memoryStatus(HourlyAggregation(Tables.events(s, dir))),
      s"""$aggCte
         |SELECT CAST(sum(event_count) AS BIGINT) AS total_event_count,
         |       count(*) AS active_window_count,
         |       min(window_end) AS earliest_window_end,
         |       max(window_end) AS latest_window_end
         |FROM hourly_aggregations""".stripMargin),

    // O14: last-write-wins upsert as latest-row-per-key dedup.
    spec("o14_last_write_wins", (s, dir) =>
      Upsert.lastWriteWins(
        Tables.events(s, dir),
        keys = Seq("user_id", "event_type"),
        version = Seq(col("ts"), col("event_id")))
        .select(
          col("user_id"), col("event_type"),
          col("event_id").as("last_event_id"),
          col("ts").as("last_ts"),
          col("value").as("last_value"))
        .orderBy(col("user_id"), col("event_type")),
      """SELECT user_id, event_type,
        |       event_id AS last_event_id, ts AS last_ts, value AS last_value
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin),

    // Gap-based sessionization (reconstructs the reference's session axis).
    spec("sessionize_stats", (s, dir) => Sessionize.sessionStats(Tables.events(s, dir)),
      """WITH tagged AS (
        |  SELECT user_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id,
        |       CAST(sum(new_s) AS BIGINT) AS session_count,
        |       count(*) AS event_count,
        |       count(*) / CAST(sum(new_s) AS BIGINT) AS events_per_session
        |FROM tagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // ---- star-schema analytics (SURVEY.md §7 step 7) ----
    spec("tpch_q1_pricing", (s, dir) =>
      Analytics.pricingSummary(Tables.lineitem(s, dir)),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    spec("mktseg_revenue", (s, dir) =>
      Analytics.mktsegRevenue(Tables.orders(s, dir), Tables.customer(s, dir)),
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS order_count,
        |  count(DISTINCT o_custkey) AS customer_count
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),
    spec("nation_revenue", (s, dir) =>
      Analytics.nationRevenue(
        Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir)),
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS order_count
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin),
    spec("top_brands_revenue", (s, dir) =>
      Analytics.topBrandsByRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)),
      """SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY revenue DESC, p_brand ASC
        |LIMIT 10""".stripMargin),
    spec("top_orders_per_customer", (s, dir) =>
      Analytics.topOrdersPerCustomer(Tables.orders(s, dir)),
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin),
    spec("customers_no_big_orders", (s, dir) =>
      Analytics.customersWithoutBigOrders(Tables.orders(s, dir), Tables.customer(s, dir)),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin),
    spec("big_spenders", (s, dir) =>
      Analytics.bigSpenders(Tables.orders(s, dir), Tables.customer(s, dir)),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),
    spec("revenue_rollup", (s, dir) =>
      Analytics.revenueRollup(Tables.orders(s, dir)),
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS order_count
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),
    spec("events_by_segment", (s, dir) =>
      Analytics.eventsBySegment(Tables.events(s, dir), Tables.customer(s, dir)),
      """SELECT c_mktsegment, event_type,
        |  count(*) AS event_count,
        |  count(DISTINCT user_id) AS unique_user_count,
        |  round(sum(value), 2) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin),
    spec("shipping_priority", (s, dir) =>
      Analytics.shippingPriority(
        Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir)),
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin),
    spec("regional_volume", (s, dir) =>
      Analytics.regionalVolume(
        Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir)),
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin),
    // Retention triangle: cohort by first-seen day x activity-day offset.
    spec("retention_cohorts", (s, dir) =>
      Analytics.retentionCohorts(Tables.events(s, dir)),
      """WITH fs AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events)
        |SELECT fs.cohort_day,
        |  CAST(date_diff('day', fs.cohort_day, act.active_day) AS INT) AS day_offset,
        |  CAST(count(DISTINCT act.user_id) AS BIGINT) AS active_users
        |FROM act JOIN fs ON act.user_id = fs.user_id
        |WHERE date_diff('day', fs.cohort_day, act.active_day) <= 7
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    // Staged conversion funnel (ordered view -> click -> purchase).
    spec("funnel_conversion", (s, dir) =>
      Analytics.funnel(Tables.events(s, dir)),
      """WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
        |      JOIN v ON e.user_id = v.user_id AND e.ts >= v.view_ts
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
        |      JOIN c ON e.user_id = c.user_id AND e.ts >= c.click_ts
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT '1_view' AS stage, count(*) AS users FROM v
        |UNION ALL SELECT '2_click', count(*) FROM c
        |UNION ALL SELECT '3_purchase', count(*) FROM p
        |ORDER BY stage""".stripMargin),
    // ntile / percent_rank / cume_dist over the per-customer rollup.
    spec("customer_spend_quartiles", (s, dir) =>
      Analytics.customerSpendQuartiles(Tables.orders(s, dir)),
      """WITH pu AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
        |    count(*) AS order_count
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, total_spend, order_count,
        |  ntile(4) OVER w AS spend_quartile,
        |  percent_rank() OVER w AS spend_pct_rank,
        |  cume_dist() OVER w AS spend_cume_dist
        |FROM pu
        |WINDOW w AS (ORDER BY total_spend, o_custkey)
        |ORDER BY o_custkey""".stripMargin),
    spec("tpch_q10_returned", (s, dir) =>
      Analytics.returnedItemRevenue(
        Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir)),
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin),
    spec("supplier_nation_revenue", (s, dir) =>
      Analytics.supplierNationRevenue(
        Tables.lineitem(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir)),
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(count(DISTINCT s_suppkey) AS BIGINT) AS supplier_count,
        |  count(*) AS line_count
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin),
    spec("user_running_totals", (s, dir) =>
      Analytics.userRunningTotals(Tables.events(s, dir)),
      """SELECT user_id, event_id,
        |  row_number() OVER w AS event_index,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |       OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       AS DOUBLE) AS running_value,
        |  value - lag(value, 1) OVER w AS value_delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_index""".stripMargin),
    // Decorrelated-subquery shape (partition-window avg, DECIMAL-exact).
    spec("above_avg_balance", (s, dir) =>
      Analytics.aboveAvgBalance(Tables.customer(s, dir)),
      """SELECT c_custkey, c_name, c_acctbal, nation_avg FROM (
        |  SELECT c_custkey, c_name, c_acctbal,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
        |         OVER (PARTITION BY c_nationkey) AS DOUBLE)
        |      / count(*) OVER (PARTITION BY c_nationkey) AS nation_avg
        |  FROM customer) t
        |WHERE c_acctbal > nation_avg
        |ORDER BY c_custkey""".stripMargin),
    // The same semantics through the SQL-PARSER path: a true correlated
    // scalar subquery in `spark.sql` text, decorrelated by Catalyst
    // (RewriteCorrelatedScalarSubquery -> aggregate + left outer join).
    // Proves the engine surface is reachable from SQL text, not just the
    // DataFrame API.
    spec("above_avg_balance_sql", (s, dir) => {
      // query-scoped view name: registering plain "customer" would
      // silently repoint a user's SQL-surface view as a side effect
      // (GraftSql.registerViews would also work but costs ~1s of
      // parquet-footer reads that benchmark as query cost)
      Tables.customer(s, dir).createOrReplaceTempView("graft_q_customer")
      s.sql(
        """SELECT c_custkey, c_name, c_acctbal, nation_avg FROM (
          |  SELECT c.c_custkey, c.c_name, c.c_acctbal,
          |    (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          |            / count(*)
          |     FROM graft_q_customer c2
          |     WHERE c2.c_nationkey = c.c_nationkey) AS nation_avg
          |  FROM graft_q_customer c) t
          |WHERE c_acctbal > nation_avg
          |ORDER BY c_custkey""".stripMargin)
    },
      // Same correlated-scalar-subquery text as the Spark side (DuckDB also
      // decorrelates it); DECIMAL-exact sum so the avg is bit-identical.
      """SELECT c_custkey, c_name, c_acctbal, nation_avg FROM (
        |  SELECT c.c_custkey, c.c_name, c.c_acctbal,
        |    (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |            / count(*)
        |     FROM customer c2
        |     WHERE c2.c_nationkey = c.c_nationkey) AS nation_avg
        |  FROM customer c) t
        |WHERE c_acctbal > nation_avg
        |ORDER BY c_custkey""".stripMargin),

    // ---- training-data pipeline: text analysis ----
    spec("doc_stats", (s, dir) =>
      TextAnalysis.docStats(Tables.documents(s, dir), stopwords),
      s"""WITH t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks,
         |                  CAST(length(text) AS BIGINT) AS char_count
         |           FROM documents)
         |SELECT doc_id, lang, source, char_count,
         |  CAST(len(toks) AS BIGINT) AS token_count,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_token_count,
         |  CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS BIGINT) AS distinct_ratio,
         |  CAST(len(list_filter(toks, x -> x IN ($stopwordsSqlList))) AS BIGINT) / CAST(len(toks) AS BIGINT) AS stopword_ratio,
         |  least(CAST(len(toks) AS BIGINT) / 50.0, 1.0) * 0.5
         |    + (CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS BIGINT)) * 0.3
         |    + (CAST(len(list_filter(toks, x -> x IN ($stopwordsSqlList))) AS BIGINT) / CAST(len(toks) AS BIGINT)) * 0.2 AS quality_score
         |FROM t ORDER BY doc_id""".stripMargin),
    spec("lang_id", (s, dir) => TextAnalysis.langId(Tables.documents(s, dir)),
      """WITH h AS (SELECT doc_id, lang,
        |  len(list_filter(string_split(text,' '), x -> x IN ('the','and','of'))) AS en,
        |  len(list_filter(string_split(text,' '), x -> x IN ('der','die','und'))) AS de,
        |  len(list_filter(string_split(text,' '), x -> x IN ('le','la','et'))) AS fr,
        |  len(list_filter(string_split(text,' '), x -> x IN ('el','los','y'))) AS es
        |FROM documents),
        |p AS (SELECT doc_id, lang,
        |  CASE WHEN en > 0 AND en >= de AND en >= fr AND en >= es THEN 'en'
        |       WHEN de > 0 AND de >= fr AND de >= es THEN 'de'
        |       WHEN fr > 0 AND fr >= es THEN 'fr'
        |       WHEN es > 0 THEN 'es' ELSE 'und' END AS lang_pred
        |FROM h)
        |SELECT doc_id, lang, lang_pred,
        |       CAST(lang = lang_pred AS INTEGER) AS agrees
        |FROM p ORDER BY doc_id""".stripMargin),
    spec("token_histogram", (s, dir) =>
      TextAnalysis.tokenHistogram(Tables.documents(s, dir)),
      """SELECT t AS token, count(*) AS occurrences
        |FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |GROUP BY t
        |ORDER BY occurrences DESC, token ASC""".stripMargin),
    spec("doc_fingerprints", (s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir)),
      s"""SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |                     i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
        |FROM documents WHERE $asciiGuard ORDER BY doc_id""".stripMargin),
    // Same semantics through SQL TEXT with the native expression that the
    // session's GraftExtensions installed — proves the custom-Expression
    // surface is reachable from the SQL parser, not just the Column API.
    spec("doc_fingerprints_sql", (s, dir) => {
      // query-scoped view name (see above_avg_balance_sql note)
      Tables.documents(s, dir).createOrReplaceTempView("graft_q_documents")
      s.sql("""SELECT doc_id, rolling_hash(text) AS fingerprint
              |FROM graft_q_documents ORDER BY doc_id""".stripMargin)
    },
      s"""SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(text) + 1),
        |                     i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
        |FROM documents WHERE $asciiGuard ORDER BY doc_id""".stripMargin),
    spec("lang_stats", (s, dir) => TextAnalysis.langStats(Tables.documents(s, dir)),
      """SELECT lang, count(*) AS doc_count,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars,
        |  count(DISTINCT source) AS source_count
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // Deterministic hash-based train/val/test split (80/10/10 on the
    // content fingerprint): assignment is a pure function of the TEXT, so
    // it is stable under corpus growth/reorder and identical duplicates
    // land in the same split (no eval leakage from dup copies).
    spec("doc_splits", (s, dir) => {
      val bucket = graft.functions.GraftColumns.rollingHash(col("text")) % 100
      val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
      Tables.documents(s, dir)
        .select(col("source"), split.as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("doc_count"))
        .orderBy(col("source"), col("split"))
    },
      s"""WITH f AS (
        |  SELECT source,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(text) + 1),
        |                       i -> CAST(ascii(text[i]) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 AS bucket
        |  FROM documents WHERE $asciiGuard)
        |SELECT source,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS doc_count
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Exact-quota stratified sample: "exactly N docs per source" by
    // content-keyed rank — the data-budget counterpart of the mixture
    // rate gate. Full machine-generated oracle (SketchOracles.stratifiedSql).
    spec("stratified_sample", (s, dir) =>
      graft.operators.Mixture.stratifiedSample(
        Tables.documents(s, dir), graft.operators.Mixture.DriverQuotas),
      SketchOracles.stratifiedSql()),
    // Token-budget sample: training mixtures are sized in TOKENS, not
    // docs — same content-keyed priority, running token sum per source,
    // admitted iff the budget wasn't exhausted at the doc's start.
    spec("token_budget_sample", (s, dir) =>
      graft.operators.Mixture.tokenBudgetSample(
        Tables.documents(s, dir), graft.operators.Mixture.DriverTokenBudgets),
      SketchOracles.tokenBudgetSql()),
    // The end-to-end curation funnel: ingest → lang gate → quality gate →
    // exact dedup → span dedup → mixture sample, per-stage doc/token
    // counts. One machine-generated oracle chains the same stages as CTEs.
    spec("curation_funnel", (s, dir) =>
      graft.operators.Curation.funnel(Tables.documents(s, dir), stopwords),
      SketchOracles.funnelSql(
        stopwordsSqlList, qualityMin = 0.5, spanMax = 0.95, spanK = 8)),
    // Per-source quality gating (keep each source's top half by the shared
    // quality score) vs the pooled global gate; `rescued`/`displaced` rows
    // are where the two policies disagree. Global rank via DistributedRank
    // (range partition + offsets — no single-partition window).
    spec("per_source_quality_gate", (s, dir) =>
      graft.operators.Curation.perSourceQualityGate(
        Tables.documents(s, dir), stopwords),
      // Same IEEE quality expression as doc_stats; both gates replayed as
      // plain windows (DuckDB runs single-node — the engine's
      // DistributedRank construction is rank-identical by design).
      s"""WITH sc AS (
         |  SELECT doc_id, source,
         |    least(CAST(len(toks) AS BIGINT) / 50.0, 1.0) * 0.5
         |      + (CAST(len(list_distinct(toks)) AS BIGINT) / CAST(len(toks) AS BIGINT)) * 0.3
         |      + (CAST(len(list_filter(toks, x -> x IN ($stopwordsSqlList))) AS BIGINT) / CAST(len(toks) AS BIGINT)) * 0.2 AS quality_score
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)),
         |r AS (SELECT *,
         |  row_number() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id) AS src_rank,
         |  count(*) OVER (PARTITION BY source) AS src_n,
         |  row_number() OVER (ORDER BY quality_score DESC, doc_id) AS global_rank,
         |  count(*) OVER () AS total_n
         |  FROM sc)
         |SELECT doc_id, source, quality_score,
         |  CAST(src_rank AS BIGINT) AS src_rank,
         |  CAST(src_n AS BIGINT) AS src_n,
         |  src_rank <= (500000 * src_n + 999999) // 1000000 AS kept,
         |  CAST(global_rank AS BIGINT) AS global_rank,
         |  global_rank <= (500000 * total_n + 999999) // 1000000 AS kept_global,
         |  CASE WHEN src_rank <= (500000 * src_n + 999999) // 1000000
         |            AND global_rank <= (500000 * total_n + 999999) // 1000000 THEN 'kept'
         |       WHEN src_rank <= (500000 * src_n + 999999) // 1000000 THEN 'rescued'
         |       WHEN global_rank <= (500000 * total_n + 999999) // 1000000 THEN 'displaced'
         |       ELSE 'dropped' END AS status
         |FROM r ORDER BY doc_id""".stripMargin),
    // Sequence packing (concat-and-chunk): hash-sharded token streams,
    // per-shard running offsets, fixed-capacity chunk assignment +
    // boundary-straddle audit. Full machine-generated oracle
    // (graft.SketchOracles.packSql — shares the splitmix64 emitter).
    spec("doc_chunk_assignments", (s, dir) =>
      graft.operators.Pack.chunkAssignments(Tables.documents(s, dir)),
      SketchOracles.packSql()),
    // Count-Min heavy hitters beside exact counts. The sketch uses the
    // public fnv1a64+mix64 hash family and builds its counters
    // relationally, so the WHOLE sketch has a full DuckDB oracle
    // (graft.SketchOracles.cmsSql); the exact count stays as an in-row
    // self-check (CMS one-sided bound asserted in PropertySpec).
    spec("token_topk_cms", (s, dir) =>
      TextAnalysis.tokenTopkCms(Tables.documents(s, dir)),
      // Machine-generated sketch oracles (graft.SketchOracles): the full
      // Count-Min and relational-HLL pipelines re-derived in DuckDB HUGEINT
      // arithmetic from the shared public hash family.
      SketchOracles.cmsSql()),
    // Gopher-style repetition/quality signals (top-token + dup n-gram
    // fractions) — the boilerplate detectors a curation pipeline gates on.
    spec("doc_repetition", (s, dir) =>
      TextAnalysis.repetitionStats(Tables.documents(s, dir)),
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    len(toks) AS n,
        |    list_max(map_values(list_aggregate(toks, 'histogram'))) AS mf,
        |    len(list_distinct(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]))) AS d2,
        |    len(list_distinct(list_transform(range(1, len(toks)-1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS d3
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS token_count,
        |  CAST(mf AS BIGINT) AS max_token_freq,
        |  CAST(mf AS DOUBLE) / CAST(n AS DOUBLE) AS top_token_fraction,
        |  CASE WHEN n > 1 THEN 1.0 - CAST(d2 AS DOUBLE) / CAST(n-1 AS DOUBLE)
        |       ELSE 0.0 END AS dup_2gram_fraction,
        |  CASE WHEN n > 2 THEN 1.0 - CAST(d3 AS DOUBLE) / CAST(n-2 AS DOUBLE)
        |       ELSE 0.0 END AS dup_3gram_fraction
        |FROM s ORDER BY doc_id""".stripMargin),
    // String normalization pipeline (lower/trim/whitespace-collapse/preview).
    spec("doc_normalize", (s, dir) =>
      TextAnalysis.normalizePreview(Tables.documents(s, dir)),
      """SELECT doc_id,
        |  substring(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), 1, 40) AS preview,
        |  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS consonant_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    // CCNet-style bigram-LM perplexity quality signal: corpus-trained
    // add-one-smoothed bigram model, per-doc average NLL.
    spec("doc_perplexity", (s, dir) =>
      TextAnalysis.bigramNll(Tables.documents(s, dir)),
      // Bigram NLL: parallel unnests zip in DuckDB, so w1/w2 align by
      // position. All model counts are exact integers; the only doubles are
      // the final ln()/divide/sum — see TextAnalysis.bigramNll scaladoc for
      // the rounding-safety argument.
      """WITH bi AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(string_split(text, ' '))),
        |                          i -> string_split(text, ' ')[i])) AS w1,
        |    unnest(list_transform(range(1, len(string_split(text, ' '))),
        |                          i -> string_split(text, ' ')[i+1])) AS w2
        |  FROM documents),
        |docbi AS (SELECT doc_id, w1, w2, count(*) AS c_doc
        |          FROM bi GROUP BY 1, 2, 3),
        |corpbi AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM corpbi GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT tok) AS v FROM
        |          (SELECT unnest(string_split(text, ' ')) AS tok
        |           FROM documents))
        |SELECT doc_id, CAST(sum(c_doc) AS BIGINT) AS n_bigrams,
        |       count(*) AS distinct_bigrams,
        |       round(sum(c_doc * ln((c1 + v) / (c12 + 1))) / sum(c_doc), 4)
        |         AS avg_nll
        |FROM docbi JOIN corpbi USING (w1, w2) JOIN ctx USING (w1), vocab
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // TF-IDF top-3 terms per document (smooth idf, row_number window).
    spec("tfidf_top_terms", (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir)),
      """WITH tc AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n,
        |         unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |termc AS (SELECT doc_id, n, term, count(*) AS tf_count
        |          FROM tc GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df FROM termc GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf_count, df,
        |         (tf_count / n) * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
        |           AS score
        |  FROM termc JOIN dfreq USING (term), tot),
        |ranked AS (SELECT *, row_number() OVER (
        |             PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |           FROM scored)
        |SELECT doc_id, rank, term, tf_count, df, round(score, 6) AS score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    // PII scrub: typed redaction + per-category hit counts over
    // deterministically planted contact strings (corpus has no real PII).
    spec("pii_redact", (s, dir) =>
      TextAnalysis.piiRedact(Tables.documents(s, dir)),
      // Patterns live in the Java-regex ∩ RE2 subset; DuckDB needs the 'g'
      // flag to replace all occurrences (Spark replaces all by default).
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 <> 0 THEN ' reach me at user' ||
        |      CAST(doc_id AS VARCHAR) || '@mail.example' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' backup bob.smith+' ||
        |      CAST(doc_id AS VARCHAR) || '@corp.example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' call +1-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' node 10.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |      CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END AS aug
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, aug,
        |    regexp_replace(regexp_replace(regexp_replace(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\+1-\d{3}-\d{4}', '[PHONE]', 'g'),
        |      '\b\d{1,3}(\.\d{1,3}){3}\b', '[IP]', 'g') AS redacted
        |  FROM aug)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS email_hits,
        |  CAST(len(regexp_extract_all(aug, '\+1-\d{3}-\d{4}')) AS BIGINT)
        |    AS phone_hits,
        |  CAST(len(regexp_extract_all(aug, '\b\d{1,3}(\.\d{1,3}){3}\b'))
        |    AS BIGINT) AS ip_hits,
        |  md5(redacted) AS redacted_md5,
        |  right(redacted, 60) AS redacted_tail
        |FROM red ORDER BY doc_id""".stripMargin),
    // Temporal profile: events by hour-of-day x day-of-week.
    spec("events_time_profile", (s, dir) =>
      Analytics.eventsTimeProfile(Tables.events(s, dir)),
      """SELECT hour(ts) AS hour_of_day,
        |       dayofweek(ts) AS dow,
        |       count(*) AS event_count,
        |       round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_of_day, dow""".stripMargin),
    // Time-based RANGE frame: trailing-hour per-user count + DECIMAL-exact
    // value mass (frame membership by order-key VALUE, not row position).
    spec("user_trailing_window", (s, dir) =>
      Analytics.userTrailingWindow(Tables.events(s, dir)),
      """SELECT event_id, user_id,
        |  count(*) OVER w AS trailing_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS trailing_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
    // G1 as an ORACLED query: the oracle REGENERATES the events from the
    // splitmix64 streams independently (SketchOracles.genEventsSql) and
    // aggregates — the engine matches only if distributed generation is
    // exactly the documented function of the row id. Fixed n: the
    // generator doesn't scale with the harness tables.
    spec("gen_events_audit", (s, dir) =>
      graft.gen.EventGen.batch(s, 50000)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("distinct_users"),
          round(sum(col("value")), 2).as("value_sum"))
        .orderBy(col("event_type")),
      SketchOracles.genEventsSql(
        n = 50000, userPool = 150, seed = 42L, eventTypes = graft.gen.EventGen.eventTypes)),
    // S1+G4 value contract end-to-end WITHOUT a broker: the full events
    // table through the producer serializer (toKafkaRecords: key =
    // user_id string, value = whole-row JSON) and straight back through
    // the consumer parse (parseJsonEvents) — then aggregated. The oracle
    // aggregates the RAW parquet table, so any round-trip loss (timestamp
    // precision, double formatting, null handling, string escaping)
    // surfaces as a hash mismatch. The broker-side transport itself stays
    // compile-only (no connector jars in this sandbox).
    spec("kafka_roundtrip_audit", (s, dir) => {
      val parsed = graft.sources.Sources.parseJsonEvents(
        graft.sources.Sources.toKafkaRecords(Tables.events(s, dir)))
      parsed.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total_value"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"),
        sum(length(col("props"))).as("props_chars"))
        .orderBy(col("event_type"))
    },
      // Ground truth = the RAW table: the engine must serialize every row
      // through the Kafka producer shape and parse it back LOSSLESSLY for
      // these aggregates (micro-timestamps, doubles, null props) to match.
      """SELECT event_type,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 2) AS total_value,
        |  min(ts) AS min_ts,
        |  max(ts) AS max_ts,
        |  CAST(sum(length(props)) AS BIGINT) AS props_chars
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // S2+S3 as an ORACLED query: serialize events to JSON in-query
    // (deterministic concat; every 97th record truncated = corrupt),
    // parse through the REAL permissive from_json path with the observed
    // corrupt counter, aggregate the survivors. The oracle computes the
    // expected result relationally from ground truth — the engine only
    // matches if the parser round-trips every field and drops exactly
    // the corrupt records.
    spec("json_ingest_agg", (s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("user_id", LongType)))
      // to_json(struct(...)) rather than hand-concat: correct escaping if
      // the data ever grows quotes/backslashes/nulls in a string field
      val raw = Tables.events(s, dir).select(
        when(col("event_id") % 97 === 0, lit("{\"event_id\":"))
          .otherwise(to_json(struct(
            col("event_id"), col("event_type"), col("user_id"))))
          .as("value"))
      graft.sources.Sources.parseJsonEvents(raw, schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("parsed_count"),
          countDistinct(col("user_id")).as("distinct_users"),
          sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))
    },
      // Ground truth computed relationally — the ENGINE must round-trip the
      // JSON and drop exactly the event_id % 97 == 0 corrupt records.
      """SELECT event_type,
        |  count(*) AS parsed_count,
        |  count(DISTINCT user_id) AS distinct_users,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events WHERE event_id % 97 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Z-order locality audit: Morton keys over (user_id, event_id) mod
    // 1024, bucketed by key prefix — per-bucket min/max of BOTH dims stay
    // tile-tight, the property the z-sorted layout's file skipping rests
    // on (LayoutStatefulSpec measures the actual row-group pruning).
    spec("zorder_locality", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        (col("user_id") % 1024).as("x"), (col("event_id") % 1024).as("y"))
      ev.select(col("x"), col("y"),
          graft.operators.Layout.zorderKey(col("x"), col("y"), 10).as("zkey"))
        .groupBy(shiftright(col("zkey"), 12).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("zbucket"))
    },
      // Morton interleave as an integer fold: bit i of x to 2i, of y to 2i+1.
      """WITH b AS (
        |  SELECT user_id % 1024 AS x, event_id % 1024 AS y FROM events),
        |z AS (
        |  SELECT x, y,
        |    list_reduce(list_transform(range(0, 10),
        |      i -> (((x // (1::BIGINT << i)) % 2) << (2*i)) +
        |           (((y // (1::BIGINT << i)) % 2) << (2*i+1))),
        |      (a, b) -> a + b) AS zkey
        |  FROM b)
        |SELECT zkey // 4096 AS zbucket, count(*) AS n,
        |       min(x) AS min_x, max(x) AS max_x,
        |       min(y) AS min_y, max(y) AS max_y
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),
    // Hilbert-curve locality audit on the same grid: per key-range
    // bucket, both dims stay tile-tight WITHOUT the Z-curve's diagonal
    // jumps (native codegen'd xy2d expression).
    spec("hilbert_locality", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        (col("user_id") % 1024).as("x"), (col("event_id") % 1024).as("y"))
      ev.select(col("x"), col("y"),
          graft.operators.Layout.hilbertKey(col("x"), col("y"), 10).as("hkey"))
        .groupBy(shiftright(col("hkey"), 12).as("hbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("hbucket"))
    },
      // The Hilbert rotation recurrence unrolled (one CTE stage per bit).
      graft.operators.Layout.hilbertOracleSql()),
    // Whitespace + BPE-ish regex token counting + subword estimate.
    spec("token_counts_bpe", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long")
          .as("regex_tokens"),
        expr("(length(text) + 3) DIV 4").as("subword_estimate"))
      .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS regex_tokens,
        |  (length(text) + 3) // 4 AS subword_estimate
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- training-data pipeline: deduplication ----
    spec("dedup_exact", (s, dir) => Dedup.exactGroups(Tables.documents(s, dir)),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin),
    spec("ngram_jaccard_pairs", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir)),
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i+1] || ' ' ||
        |         string_split(text, ' ')[i+2]))) AS shingle
        |  FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 count(*) AS common_shingles
        |          FROM sh a JOIN sh b
        |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common_shingles,
        |       common_shingles / (sa.n + sb.n - common_shingles) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE common_shingles / (sa.n + sb.n - common_shingles) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    // Cross-document duplicated-span signal (Lee et al. 2021): per-doc
    // fraction of distinct 3-grams occurring in >=2 docs. Pair-free.
    spec("cross_doc_ngrams", (s, dir) =>
      Dedup.crossDocNgramOverlap(Tables.documents(s, dir)),
      // Engine joins on xxhash64(shingle) (8-byte shuffle key); the oracle
      // joins the shingle strings themselves — identical counts unless the
      // 64-bit hash collides (~1e-9 at sf0.1 shingle volume).
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i+1] || ' ' ||
        |         string_split(text, ' ')[i+2]))) AS shingle
        |  FROM documents),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |       count(*) FILTER (WHERE df.df >= 2) AS shared_shingles,
        |       count(*) FILTER (WHERE df.df >= 2) / count(*) AS shared_fraction
        |FROM sh JOIN df USING (shingle)
        |GROUP BY sh.doc_id
        |ORDER BY doc_id""".stripMargin),
    // Sketch-based near-dup (no ANSI-SQL oracle for the sketch itself;
    // validated in ScalaTest against the exact-jaccard pairs). Every output
    // row carries the EXACT n-gram Jaccard as a self-check column — the
    // sketch estimate is verifiable in-row (|est - exact| within the
    // sketch error bar), so the rows-only driver check still sees a
    // self-verifying result.
    spec("minhash_lsh_pairs", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.withExactJaccard(Dedup.minhashLshPairs(docs), docs)
    },
      // NOTE: the repeated 5-stage HUGEINT mix chains in this oracle (and
      // the ann_lsh one) are MACHINE-GENERATED and validated bit-exact at 3
      // SFs — regenerate rather than hand-edit (a single-digit typo in one
      // copy yields a wrong oracle); tools/check_mix_oracles.py re-derives
      // the chain constants and checks the embedded SQL; the Scala-side
      // single source of truth is graft.functions.Mix64.mix /
      // SimHash64.fnv1a.
      // FULL oracle for MinHash+LSH near-dup pairs: FNV-1a base hash per
      // shingle, 16 splitmix64 permutations, min-aggregation, band-key folds
      // and the candidate join — all emulated with HUGEINT mod-2^64
      // arithmetic (wrapping multiplies via 32-bit limbs), signed/unsigned
      // conversions matching JVM two's-complement exactly. The whole sketch
      // pipeline is reproduced bit-exactly by an independent engine.
      s"""WITH shl AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i+1] || ' ' ||
        |         string_split(text, ' ')[i+2]))) AS shingle
        |  FROM documents WHERE $asciiGuard),
        |base AS (
        |  SELECT doc_id, shingle,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(1, length(shingle)+1),
        |                       i -> ord(substr(shingle, i, 1))::HUGEINT)),
        |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS hu
        |  FROM shl),
        |perm AS (
        |  SELECT p, CAST(p AS HUGEINT) * 11400714819323198485::HUGEINT % 18446744073709551616::HUGEINT AS seed
        |  FROM (SELECT unnest(range(0, 16)) AS p)),
        |m0 AS (SELECT doc_id, p, xor(hu, seed) AS x0 FROM base, perm),
        |m1 AS (SELECT doc_id, p, (x0 + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS z0 FROM m0),
        |m2 AS (SELECT doc_id, p, xor(z0, z0 // 1073741824) AS a1 FROM m1),
        |m3 AS (SELECT doc_id, p, ((a1 * 484763065::HUGEINT) % 18446744073709551616::HUGEINT + ((a1 * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1 FROM m2),
        |m4 AS (SELECT doc_id, p, xor(z1, z1 // 134217728) AS a2 FROM m3),
        |m5 AS (SELECT doc_id, p, ((a2 * 321982955::HUGEINT) % 18446744073709551616::HUGEINT + ((a2 * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2 FROM m4),
        |m6 AS (SELECT doc_id, p, xor(z2, z2 // 2147483648) AS mx FROM m5),
        |sigp AS (
        |  SELECT doc_id, p,
        |    min(CAST(CASE WHEN mx >= 9223372036854775808::HUGEINT
        |        THEN mx - 18446744073709551616::HUGEINT ELSE mx END AS BIGINT)) AS sig
        |  FROM m6 GROUP BY 1, 2),
        |sigs AS (SELECT doc_id, list(sig ORDER BY p) AS sigl FROM sigp GROUP BY 1),
        |bandbase AS (SELECT doc_id, sigl, b AS band FROM sigs, (SELECT unnest(range(0, 4)) AS b)),
        |f0a AS (SELECT doc_id, sigl, band,  ((CASE WHEN xor(CAST(band AS BIGINT), sigl[band * 4 + 1]) < 0 THEN CAST(xor(CAST(band AS BIGINT), sigl[band * 4 + 1]) AS HUGEINT) + 18446744073709551616::HUGEINT ELSE CAST(xor(CAST(band AS BIGINT), sigl[band * 4 + 1]) AS HUGEINT) END) + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS z0 FROM bandbase),
        |f0b AS (SELECT doc_id, sigl, band, xor(z0, z0 // 1073741824) AS a1 FROM f0a),
        |f0c AS (SELECT doc_id, sigl, band, ((a1 * 484763065::HUGEINT) % 18446744073709551616::HUGEINT + ((a1 * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1 FROM f0b),
        |f0d AS (SELECT doc_id, sigl, band, xor(z1, z1 // 134217728) AS a2 FROM f0c),
        |f0e AS (SELECT doc_id, sigl, band, ((a2 * 321982955::HUGEINT) % 18446744073709551616::HUGEINT + ((a2 * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2 FROM f0d),
        |f0 AS (SELECT doc_id, sigl, band, CAST(CASE WHEN xor(z2, z2 // 2147483648) >= 9223372036854775808::HUGEINT THEN xor(z2, z2 // 2147483648) - 18446744073709551616::HUGEINT ELSE xor(z2, z2 // 2147483648) END AS BIGINT) AS h1 FROM f0e),
        |f1a AS (SELECT doc_id, sigl, band, h1, ((CASE WHEN xor(h1, sigl[band * 4 + 2]) < 0 THEN CAST(xor(h1, sigl[band * 4 + 2]) AS HUGEINT) + 18446744073709551616::HUGEINT ELSE CAST(xor(h1, sigl[band * 4 + 2]) AS HUGEINT) END) + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS z0 FROM f0),
        |f1b AS (SELECT doc_id, sigl, band, xor(z0, z0 // 1073741824) AS a1 FROM f1a),
        |f1c AS (SELECT doc_id, sigl, band, ((a1 * 484763065::HUGEINT) % 18446744073709551616::HUGEINT + ((a1 * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1 FROM f1b),
        |f1d AS (SELECT doc_id, sigl, band, xor(z1, z1 // 134217728) AS a2 FROM f1c),
        |f1e AS (SELECT doc_id, sigl, band, ((a2 * 321982955::HUGEINT) % 18446744073709551616::HUGEINT + ((a2 * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2 FROM f1d),
        |f1 AS (SELECT doc_id, sigl, band, CAST(CASE WHEN xor(z2, z2 // 2147483648) >= 9223372036854775808::HUGEINT THEN xor(z2, z2 // 2147483648) - 18446744073709551616::HUGEINT ELSE xor(z2, z2 // 2147483648) END AS BIGINT) AS h2 FROM f1e),
        |f2a AS (SELECT doc_id, sigl, band, h2, ((CASE WHEN xor(h2, sigl[band * 4 + 3]) < 0 THEN CAST(xor(h2, sigl[band * 4 + 3]) AS HUGEINT) + 18446744073709551616::HUGEINT ELSE CAST(xor(h2, sigl[band * 4 + 3]) AS HUGEINT) END) + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS z0 FROM f1),
        |f2b AS (SELECT doc_id, sigl, band, xor(z0, z0 // 1073741824) AS a1 FROM f2a),
        |f2c AS (SELECT doc_id, sigl, band, ((a1 * 484763065::HUGEINT) % 18446744073709551616::HUGEINT + ((a1 * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1 FROM f2b),
        |f2d AS (SELECT doc_id, sigl, band, xor(z1, z1 // 134217728) AS a2 FROM f2c),
        |f2e AS (SELECT doc_id, sigl, band, ((a2 * 321982955::HUGEINT) % 18446744073709551616::HUGEINT + ((a2 * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2 FROM f2d),
        |f2 AS (SELECT doc_id, sigl, band, CAST(CASE WHEN xor(z2, z2 // 2147483648) >= 9223372036854775808::HUGEINT THEN xor(z2, z2 // 2147483648) - 18446744073709551616::HUGEINT ELSE xor(z2, z2 // 2147483648) END AS BIGINT) AS h3 FROM f2e),
        |f3a AS (SELECT doc_id, sigl, band, h3, ((CASE WHEN xor(h3, sigl[band * 4 + 4]) < 0 THEN CAST(xor(h3, sigl[band * 4 + 4]) AS HUGEINT) + 18446744073709551616::HUGEINT ELSE CAST(xor(h3, sigl[band * 4 + 4]) AS HUGEINT) END) + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS z0 FROM f2),
        |f3b AS (SELECT doc_id, sigl, band, xor(z0, z0 // 1073741824) AS a1 FROM f3a),
        |f3c AS (SELECT doc_id, sigl, band, ((a1 * 484763065::HUGEINT) % 18446744073709551616::HUGEINT + ((a1 * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z1 FROM f3b),
        |f3d AS (SELECT doc_id, sigl, band, xor(z1, z1 // 134217728) AS a2 FROM f3c),
        |f3e AS (SELECT doc_id, sigl, band, ((a2 * 321982955::HUGEINT) % 18446744073709551616::HUGEINT + ((a2 * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z2 FROM f3d),
        |f3 AS (SELECT doc_id, sigl, band, CAST(CASE WHEN xor(z2, z2 // 2147483648) >= 9223372036854775808::HUGEINT THEN xor(z2, z2 // 2147483648) - 18446744073709551616::HUGEINT ELSE xor(z2, z2 // 2147483648) END AS BIGINT) AS h4 FROM f3e),
        |banded AS (SELECT doc_id, sigl, band, h4 AS bkey FROM f3),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.sigl AS sa, b.sigl AS sb
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT doc_a, doc_b,
        |    len(list_filter(range(1, 17), i -> sa[i] = sb[i])) / 16.0 AS est_jaccard
        |  FROM cand),
        |shlist AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i+1] || ' ' ||
        |         string_split(text, ' ')[i+2])) AS sl
        |  FROM documents)
        |SELECT e.doc_a, e.doc_b, e.est_jaccard,
        |  CASE WHEN len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl)) = 0
        |       THEN 1.0
        |       ELSE len(list_intersect(a.sl, b.sl))
        |            / (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))) END
        |    AS exact_jaccard
        |FROM est e
        |JOIN shlist a ON e.doc_a = a.doc_id
        |JOIN shlist b ON e.doc_b = b.doc_id
        |WHERE e.est_jaccard >= 0.5
        |ORDER BY e.doc_a, e.doc_b""".stripMargin),
    spec("simhash_pairs", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.withExactJaccard(Dedup.simhashPairs(docs), docs)
    },
      // FULL oracle for SimHash near-dup pairs: per-token FNV-1a 64 via
      // HUGEINT mod-2^64, bit votes, signed-fingerprint reconstruction,
      // band keys (arithmetic shift + mask, matching JVM semantics),
      // Hamming via bit_count(xor), plus the exact-jaccard self-check —
      // pure integer math end to end, bit-exact by construction.
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE $asciiGuard
        |),
        |th AS (
        |  SELECT doc_id, tok,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(1, length(tok)+1),
        |                       i -> ord(substr(tok, i, 1))::HUGEINT)),
        |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
        |                % 18446744073709551616::HUGEINT) AS hu
        |  FROM toks
        |),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (hu // (1::HUGEINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, (SELECT unnest(range(0, 64)) AS b)
        |  GROUP BY 1, 2
        |),
        |fph AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS hfp
        |  FROM votes GROUP BY 1
        |),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN hfp >= 9223372036854775808::HUGEINT
        |         THEN hfp - 18446744073709551616::HUGEINT ELSE hfp END AS BIGINT) AS f
        |  FROM fph
        |),
        |banded AS (
        |  SELECT doc_id, f, b AS band, (f >> (b * 16)) & 65535 AS bkey
        |  FROM fp, (SELECT unnest(range(0, 4)) AS b)
        |),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    bit_count(xor(a.f, b.f)) AS hamming
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        |),
        |shl AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i+1] || ' ' ||
        |         string_split(text, ' ')[i+2])) AS sl
        |  FROM documents
        |)
        |SELECT p.doc_a, p.doc_b, p.hamming,
        |  CASE WHEN len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl)) = 0
        |       THEN 1.0
        |       ELSE len(list_intersect(a.sl, b.sl))
        |            / (len(a.sl) + len(b.sl) - len(list_intersect(a.sl, b.sl))) END
        |    AS exact_jaccard
        |FROM prs p
        |JOIN shl a ON p.doc_a = a.doc_id
        |JOIN shl b ON p.doc_b = b.doc_id
        |WHERE p.hamming <= 3
        |ORDER BY p.doc_a, p.doc_b""".stripMargin),
    // Transitive closure of the verified near-dup pairs: every doc labeled
    // with its component's min doc_id (the survivor a dedup pass keeps).
    spec("dedup_clusters", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.nearDupClusters(docs, Dedup.ngramJaccardPairs(docs))
    },
      // Connected components as a recursive CTE: reach(v, r) enumerates
      // (vertex, reachable-vertex) pairs; min reachable id == component label.
      // Transitive-closure sized — fine at verification SF, and a fully
      // independent formulation from the Spark label-propagation loop.
      (clustersCte +
        """SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
          |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin)),
    // Incremental arrival path: docs with doc_id >= 250 are the "new
    // batch", the rest the standing corpus; survivors keep min doc_id and
    // must be absent from the corpus digest set.
    spec("incremental_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250))
    },
      """WITH newd AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250),
        |corp AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250),
        |keep AS (SELECT h, min(doc_id) AS doc_id FROM newd GROUP BY h)
        |SELECT k.doc_id, k.h AS content_hash
        |FROM keep k LEFT JOIN corp c ON k.h = c.h
        |WHERE c.h IS NULL
        |ORDER BY k.doc_id""".stripMargin),
    // Full incremental-regeneration composition over the same arrival
    // convention: exact dedup vs the standing digest → span audit over
    // the surviving batch → post-trim dedup → stable content split.
    // Streaming counterpart (stages 1+3): StreamingAgg.incrementalRegenStream,
    // parity-pinned in StreamingAggSpec.
    spec("incremental_regen", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Curation.incrementalRegen(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250))
    },
      graft.operators.Curation.incrementalRegenOracleSql()),
    // Decontamination: max n-gram containment of each benchmark doc
    // (doc_id < 10 stands in for the eval set) in any training doc.
    spec("benchmark_contamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.benchmarkContamination(
        docs, docs.filter(col("doc_id") < 10).select(col("doc_id")))
    },
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' ||
        |         string_split(text, ' ')[i+1] || ' ' ||
        |         string_split(text, ' ')[i+2]))) AS shingle
        |  FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id < 10),
        |t AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id >= 10),
        |c AS (SELECT bench_id, train_id, count(*) AS common
        |      FROM b JOIN t USING (shingle) GROUP BY 1, 2),
        |r AS (SELECT bench_id, train_id, common / sz.n AS containment
        |      FROM c JOIN sizes sz ON c.bench_id = sz.doc_id)
        |SELECT bench_id, containment AS max_containment,
        |       train_id AS worst_train_id
        |FROM r
        |QUALIFY row_number() OVER (
        |  PARTITION BY bench_id ORDER BY containment DESC, train_id) = 1
        |ORDER BY bench_id""".stripMargin),
    // Source-mixture shift under exact dedup (docs/tokens before vs after).
    spec("dedup_source_shift", (s, dir) =>
      Dedup.dedupSourceShift(Tables.documents(s, dir)),
      """WITH surv AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        |SELECT source,
        |  count(*) AS docs_before,
        |  CAST(coalesce(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 END), 0)
        |    AS BIGINT) AS docs_after,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_before,
        |  CAST(coalesce(sum(CASE WHEN s.doc_id IS NOT NULL
        |    THEN len(string_split(text, ' ')) END), 0) AS BIGINT) AS tokens_after
        |FROM documents d LEFT JOIN surv s ON d.doc_id = s.doc_id
        |GROUP BY source ORDER BY source""".stripMargin),
    // Deterministic hash-gated mixture sampling (operators/Mixture):
    // content-keyed uniform < per-source rate — map-only, reorder-stable,
    // monotone in the rate; full DuckDB oracle over the same fnv+mix gate.
    spec("source_mixture_sample", (s, dir) =>
      graft.operators.Mixture.mixtureStats(Tables.documents(s, dir),
        graft.operators.Mixture.DriverRates,
        graft.operators.Mixture.DriverDefaultRate),
      SketchOracles.mixtureSql()),
    // Exact water-filling token-budget allocation (constrained-
    // proportional mixture solve, Hamilton-apportioned to the exact
    // budget): the only corpus-scale stage is one map-side-combined
    // per-source aggregation; full DuckDB oracle replays the closed form.
    // budgetPpm = 900000 here: at 90% of corpus tokens the heavy-weight
    // sources outrun their supply, so the capped branch and the re-flow
    // are exercised at every SF (at 60% nothing caps on this corpus).
    spec("mixture_optimal_alloc", (s, dir) =>
      graft.operators.Mixture.optimalMixture(Tables.documents(s, dir),
        budgetPpm = 900000L),
      SketchOracles.optimalMixtureSql(budgetPpm = 900000L)),
    // Data-constrained regime: budget = 2.5 corpus passes, repetition
    // capped at 4 epochs per source — the same solve over effective
    // (repeatable) supplies; epochs_ppm marks the data-bound sources.
    spec("mixture_epoch_alloc", (s, dir) =>
      graft.operators.Mixture.epochAllocation(Tables.documents(s, dir),
        maxEpochs = 4, budgetPpm = 2500000L),
      SketchOracles.optimalMixtureSql(
        budgetPpm = 2500000L, maxEpochs = 4L)),
    // The solve actuated: per-source token-budget admission in the
    // content-keyed priority order, rolled up as realized-vs-allocated
    // (overshoot bounded by one straddling doc per source).
    spec("mixture_admission_audit", (s, dir) =>
      graft.operators.Mixture.admissionAudit(Tables.documents(s, dir),
        budgetPpm = 900000L),
      SketchOracles.admissionAuditSql(
        budgetPpm = 900000L)),
    // Two-level (domain -> source) allocation: one partitioned window
    // pass solves every domain's inner allocation simultaneously.
    spec("mixture_hierarchical", (s, dir) =>
      graft.operators.Mixture.hierarchicalMixture(Tables.documents(s, dir),
        budgetPpm = 900000L),
      SketchOracles.hierarchicalMixtureSql(
        budgetPpm = 900000L)),
    // Curate-then-budget: the solve over each source's quality survivors
    // (gate order changes the capped set — made exact here).
    spec("curated_mixture_alloc", (s, dir) =>
      graft.operators.Mixture.curatedMixture(Tables.documents(s, dir),
        stopwords, keepPpm = 500000L, budgetPpm = 900000L),
      SketchOracles.curatedMixtureSql(
        stopwordsSqlList, keepPpm = 500000L, budgetPpm = 900000L)),
    // Budget -> admitted corpus -> loader batches, one plan: the admitted
    // docs packed by the HRW + cumsum manifest pipeline.
    spec("mixture_train_manifest", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Pack.trainingBatchManifest(
        docs.join(graft.operators.Mixture.admittedDocs(docs, 900000L)
          .select(col("doc_id")), Seq("doc_id")))
    },
      SketchOracles.mixtureTrainManifestSql(
        budgetPpm = 900000L)),
    // Edit-distance audit of those clusters (bounded to member-keeper pairs).
    spec("cluster_edit_distances", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterEditDistances(
        docs, Dedup.nearDupClusters(docs, Dedup.ngramJaccardPairs(docs)))
    },
      // Same closure, then levenshtein between member and keeper texts —
      // DuckDB's levenshtein is the same standard DP edit distance.
      (clustersCte +
        """, cl AS (
          |  SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
          |  FROM reach GROUP BY v)
          |SELECT cl.cluster_id, cl.doc_id,
          |  CAST(levenshtein(dm.text, dk.text) AS BIGINT) AS edit_distance,
          |  CAST(levenshtein(dm.text, dk.text) AS BIGINT)
          |    / CAST(greatest(length(dm.text), length(dk.text)) AS BIGINT)
          |    AS edit_ratio
          |FROM cl
          |JOIN documents dm ON cl.doc_id = dm.doc_id
          |JOIN documents dk ON cl.cluster_id = dk.doc_id
          |WHERE cl.doc_id <> cl.cluster_id
          |ORDER BY cl.cluster_id, cl.doc_id""".stripMargin)),

    // ---- training-data pipeline: similarity search ----
    spec("ann_bruteforce", (s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir)),
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 8),
        |p AS (SELECT query_id, vec_id AS neighbor_id,
        |        list_cosine_similarity(qe::DOUBLE[], embedding::DOUBLE[]) AS sim
        |      FROM embeddings, q WHERE vec_id <> query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                   ORDER BY sim DESC, neighbor_id) AS rnk
        |      FROM p)
        |SELECT query_id, neighbor_id, sim, rnk FROM r
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    spec("ann_lsh", (s, dir) =>
      Similarity.lshBucketedTopK(Tables.embeddings(s, dir)),
      // FULL oracle for the multi-probe LSH ANN index: the splitmix64
      // hyperplane generator is emulated with HUGEINT arithmetic mod 2^64
      // (64-bit wrap multiplies via 32-bit limb decomposition), dot products
      // are sequential list_reduce folds (bit-identical to the native
      // DotProduct loop), buckets/probes/candidates/cosine-ranking all in
      // SQL — the WHOLE approximate index is reproduced bit-exactly by an
      // independent engine, not just smoke-checked.
      """WITH gd AS (
        |  SELECT g, d FROM (SELECT unnest(range(0, 48)) AS g), (SELECT unnest(range(0, 64)) AS d)
        |),
        |s1 AS (SELECT g, d,
        |  ((CAST(g * 64 + d AS HUGEINT)) + 11400714819323198485::HUGEINT)
        |    % 18446744073709551616::HUGEINT AS z0 FROM gd),
        |s2a AS (SELECT g, d, xor(z0, z0 // 1073741824) AS a1 FROM s1),
        |s2 AS (SELECT g, d,
        |  ( (a1 * 484763065::HUGEINT) % 18446744073709551616::HUGEINT
        |    + ((a1 * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT
        |  ) % 18446744073709551616::HUGEINT AS z1 FROM s2a),
        |s3a AS (SELECT g, d, xor(z1, z1 // 134217728) AS a2 FROM s2),
        |s3 AS (SELECT g, d,
        |  ( (a2 * 321982955::HUGEINT) % 18446744073709551616::HUGEINT
        |    + ((a2 * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT
        |  ) % 18446744073709551616::HUGEINT AS z2 FROM s3a),
        |wt AS (SELECT g, d,
        |  CAST(xor(z2, z2 // 2147483648) // 2048 AS DOUBLE)
        |    / 4503599627370496.0 * 2.0 - 1.0 AS wtv FROM s3),
        |w AS (SELECT g, list(wtv ORDER BY d) AS wl FROM wt GROUP BY g),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |dots AS (
        |  SELECT vec_id, g // 6 AS tab, g % 6 AS p,
        |    list_reduce(list_transform(range(1, 65), i -> emb[i] * wl[i]),
        |                (a, b) -> a + b) >= 0 AS pos
        |  FROM e, w
        |),
        |buckets AS (
        |  SELECT vec_id, tab,
        |    CAST(sum(CASE WHEN pos THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY 1, 2
        |),
        |probes AS (
        |  SELECT b.vec_id AS query_id, b.tab,
        |    unnest([b.bucket,
        |            xor(b.bucket, 1), xor(b.bucket, 2), xor(b.bucket, 4),
        |            xor(b.bucket, 8), xor(b.bucket, 16), xor(b.bucket, 32)]) AS bucket
        |  FROM buckets b WHERE b.vec_id < 8
        |),
        |cand AS (
        |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
        |  FROM probes p JOIN buckets c ON p.tab = c.tab AND p.bucket = c.bucket
        |  WHERE c.vec_id <> p.query_id
        |),
        |scored AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |    list_cosine_similarity(qe.emb, ne.emb) AS sim
        |  FROM cand
        |  JOIN e qe ON cand.query_id = qe.vec_id
        |  JOIN e ne ON cand.neighbor_id = ne.vec_id
        |)
        |SELECT query_id, neighbor_id, sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |       ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
        |FROM scored
        |QUALIFY rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin),
    // Full oracle via golden-centroid pinning (graft.AnnOracles): the
    // seeded fit is emitted as SQL literals and DuckDB re-derives the
    // whole index + search pipeline bit-exactly.
    new QuerySpec("ann_ivf", (s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir)),
      None),
    // Incremental IVF maintenance (the FAISS `add` contract): corpus-only
    // quantizer (vec_id < 250, never retrained by arrivals), arrivals
    // appended by one map-only assignment, arrival queries probe the
    // GROWN index. Full pinned oracle (graft.AnnOracles.ivfAppendSql).
    new QuerySpec("ann_ivf_append", (s, dir) =>
      Similarity.ivfAppendTopK(Tables.embeddings(s, dir)),
      None),
    // PQ-compressed ANN (ADC): ranks on 16 one-byte codes per vector (16x
    // scan shrink); `sim` is the exact cosine recovered for the k
    // survivors — an in-row self-check against `sim_pq`. Full oracle via
    // the pinned codebooks (graft.AnnOracles).
    new QuerySpec("ann_pq", (s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir)),
      None),
    // The composed production shape (FAISS IVFx,PQy with by_residual=false):
    // probe nprobe of nlist cells, ADC-score PQ codes within them only,
    // exact re-rank of the k*rerank shortlist — the nprobe/nlist and 16x
    // code-size cuts to scan volume MULTIPLY. Full pinned oracle
    // (graft.AnnOracles.ivfPqSql).
    new QuerySpec("ann_ivfpq", (s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir)),
      None),
    // Composed-index maintenance (IVFx,PQy under the FAISS `add`
    // contract): centroids AND codebooks fit on the corpus half only,
    // arrivals appended by one row-local encode (cell + m codes), arrival
    // queries ADC-probe the grown index with exact re-rank. Full pinned
    // oracle (graft.AnnOracles.ivfPqAppendSql).
    new QuerySpec("ann_ivfpq_append", (s, dir) =>
      Similarity.ivfPqAppendTopK(Tables.embeddings(s, dir)),
      None),
    // SemDeDup (Abbas et al. 2023): k-means cells bound the quadratic
    // cosine pair scan; per-vector survivor/dup_of verdicts. Oracle is
    // pinned-centroid (AnnOracles.semSql), like the ANN index queries.
    new QuerySpec("semantic_dedup", (s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir)),
      None),
    // K-means cluster audit: per-cell label majority + purity — did the
    // quantizer recover the corpus's planted structure? Pinned-centroid
    // oracle (AnnOracles.clusterSql).
    new QuerySpec("embedding_clusters", (s, dir) =>
      Similarity.clusterAudit(Tables.embeddings(s, dir)),
      None),
    // Hybrid dedup: byte-identical (digest) AND semantic (SemDeDup)
    // verdicts joined across modalities on the shared id — the verdict
    // table a pipeline acts on. Oracle: AnnOracles.hybridSql (same
    // pinned fit as semantic_dedup).
    new QuerySpec("hybrid_dedup", (s, dir) =>
      Similarity.hybridDedup(Tables.documents(s, dir), Tables.embeddings(s, dir)),
      None),
    spec("embedding_label_stats", (s, dir) =>
      Similarity.labelStats(Tables.embeddings(s, dir)),
      """SELECT label, count(*) AS vec_count,
        |  CAST(sum(CAST(sqrt(list_reduce(list_prepend(0.0,
        |        list_transform(range(1, len(embedding) + 1),
        |                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)),
        |      (x, y) -> x + y)) AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS avg_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin),
    // Int8 symmetric quantization + reconstruction-error audit (8x
    // compression before ANN/storage). Per-row codegen'd HOF math;
    // every float bit-exact cross-engine (see Similarity.quantizeAudit).
    spec("embedding_quantize", (s, dir) =>
      Similarity.quantizeAudit(Tables.embeddings(s, dir)),
      // Quantization: round() is half-away-from-zero in both engines; code
      // sums are integer-exact; the MSE fold is the same left-to-right
      // prepend-0.0 sequence the engine's aggregate() runs.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |           WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
        |             AND len(embedding) = 64),
        |m AS (SELECT vec_id, e,
        |        list_aggregate(list_transform(e, x -> abs(x)), 'max') AS max_abs
        |      FROM e),
        |q AS (SELECT vec_id, e, max_abs, 127.0 / max_abs AS scale
        |      FROM m WHERE max_abs > 0),
        |c AS (SELECT vec_id, e, max_abs, scale,
        |        list_transform(e, x -> CAST(round(x * scale) AS INTEGER)) AS codes
        |      FROM q)
        |SELECT vec_id, max_abs, scale,
        |  CAST(list_aggregate(list_transform(codes, x -> CAST(x AS BIGINT)),
        |       'sum') AS BIGINT) AS code_sum,
        |  CAST(list_aggregate(list_transform(codes, x -> CAST(abs(x) AS BIGINT)),
        |       'sum') AS BIGINT) AS code_abs_sum,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(e) + 1),
        |    i -> (e[i] - codes[i] / scale) * (e[i] - codes[i] / scale))),
        |    (a, b) -> a + b) / len(e) AS mse
        |FROM c ORDER BY vec_id""".stripMargin),
    // Embedding-cosine near-dup pairs: the exact (verification) primitive,
    // bounded to the first 2000 vectors so the quadratic stays fixed-size;
    // the LSH/IVF queries are the corpus-scale candidates path.
    spec("embedding_near_dups", (s, dir) => {
      val sub = Tables.embeddings(s, dir).filter(col("vec_id") < 2000)
      // float->double cast BEFORE the join: casting inside the pair
      // projection re-materializes the array per pair (measured 6.6x).
      val a = sub.select(col("vec_id").as("vec_a"),
        col("embedding").cast("array<double>").as("ea"))
      val b = sub.select(col("vec_id").as("vec_b"),
        col("embedding").cast("array<double>").as("eb"))
      // the BNLJ stream side is one parquet split — spread it so the
      // quadratic cosine pass parallelizes (the knnGraph fix, guide §2.6)
      a.repartition(s.sparkContext.defaultParallelism)
        .join(broadcast(b), col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          Similarity.cosine(col("ea"), col("eb")).as("sim"))
        .filter(col("sim") >= 0.4)
        .orderBy(col("vec_a"), col("vec_b"))
    },
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id < b.vec_id AND a.vec_id < 2000 AND b.vec_id < 2000
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin),

    // ---- multimodal plumbing (decode is a deterministic stub; Spark-side
    // schema/partition-batch shape is real) — rows-only driver check ----
    spec("multimodal_meta", (s, dir) =>
      graft.multimodal.Multimodal
        .decodeMeta(s, graft.multimodal.Multimodal.withPayload(Tables.documents(s, dir)))
        .orderBy(col("doc_id")),
      // The multimodal stub decode is DETERMINISTIC arithmetic (FNV-1a 64 of
      // the UTF-8 payload -> format/width/height), so it is fully
      // oracle-expressible: DuckDB emulates the wrapping 64-bit FNV fold with
      // HUGEINT arithmetic mod 2^64 (documents are ASCII, so per-char ord ==
      // per-byte value; verified octet_length == length over all SFs).
      (multimodalMetaCte +
        """SELECT doc_id,
          |  CAST(n_bytes AS BIGINT) AS n_bytes,
          |  (['png','jpeg','webp'])[CAST(((hs % 3) + 3) % 3 AS INT) + 1] AS format,
          |  CAST(64 + (hu // 256) % 1216 AS INTEGER) AS width,
          |  CAST(64 + (hu // 16777216) % 960 AS INTEGER) AS height,
          |  CAST(3 AS INTEGER) AS channels
          |FROM m ORDER BY doc_id""".stripMargin)),
    spec("multimodal_format_stats", (s, dir) =>
      graft.multimodal.Multimodal.formatStats(s, Tables.documents(s, dir)),
      (multimodalMetaCte +
        """, meta AS (
          |  SELECT doc_id, n_bytes,
          |    (['png','jpeg','webp'])[CAST(((hs % 3) + 3) % 3 AS INT) + 1] AS format,
          |    64 + (hu // 256) % 1216 AS width
          |  FROM m
          |)
          |SELECT format,
          |  CAST(count(*) AS BIGINT) AS doc_count,
          |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
          |  CAST(sum(width) AS BIGINT) / CAST(count(*) AS BIGINT) AS avg_width
          |FROM meta GROUP BY format ORDER BY format""".stripMargin)),
    // Resize geometry (aspect-fit, integer-only fixed-point) and video
    // frame-sampling bookkeeping — the pre-pixel stages of a
    // mapInPandas-style multimodal pipeline, fused into the decode pass.
    spec("multimodal_thumbnails", (s, dir) =>
      graft.multimodal.Multimodal.thumbnails(s, Tables.documents(s, dir)),
      (multimodalMetaCte +
        """, meta AS (
          |  SELECT doc_id,
          |    (['png','jpeg','webp'])[CAST(((hs % 3) + 3) % 3 AS INT) + 1] AS format,
          |    64 + (hu // 256) % 1216 AS width,
          |    64 + (hu // 16777216) % 960 AS height
          |  FROM m
          |), sc AS (
          |  SELECT *, least((256 * 1000000) // width,
          |                  (256 * 1000000) // height, 1000000) AS scale_num
          |  FROM meta
          |)
          |SELECT doc_id, format,
          |  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
          |  CAST(greatest(1, (width * scale_num) // 1000000) AS INT) AS thumb_w,
          |  CAST(greatest(1, (height * scale_num) // 1000000) AS INT) AS thumb_h,
          |  CAST(greatest(1, (width * scale_num) // 1000000)
          |     * greatest(1, (height * scale_num) // 1000000) * 3 AS BIGINT) AS thumb_bytes
          |FROM sc ORDER BY doc_id""".stripMargin)),
    spec("multimodal_frame_sample", (s, dir) =>
      graft.multimodal.Multimodal.frameSample(s, Tables.documents(s, dir)),
      (multimodalMetaCte +
        """SELECT doc_id,
          |  CAST(n_bytes // 32 AS BIGINT) AS total_frames,
          |  CAST((n_bytes // 32 + 3) // 4 AS BIGINT) AS sampled_frames
          |FROM m ORDER BY doc_id""".stripMargin)),
    // REAL-codec slice: encode deterministic pixels to actual BMP bytes and
    // decode them back through javax.imageio on the executors; the oracle
    // recomputes geometry + full-pixel checksum arithmetically.
    spec("multimodal_bmp_roundtrip", (s, dir) =>
      graft.multimodal.Multimodal.bmpRoundTrip(s, Tables.documents(s, dir)),
      // Real-codec round-trip: the engine encodes pixel (x,y) of doc d as
      // grayscale (d + 31x + 17y) % 256 into an actual BMP and decodes it
      // with javax.imageio; the oracle rebuilds the same grid with a bounded
      // cross join (width <= 20, height <= 18) and sums the three identical
      // channels. Any codec deviation (dims, BGR order, 4-byte row padding)
      // breaks the hash match.
      """SELECT d.doc_id,
        |  CAST(8 + d.doc_id % 13 AS INTEGER) AS width,
        |  CAST(8 + d.doc_id % 11 AS INTEGER) AS height,
        |  CAST(3 * sum((d.doc_id + 31 * tx.x + 17 * ty.y) % 256) AS BIGINT) AS pixel_sum
        |FROM documents d, range(21) tx(x), range(19) ty(y)
        |WHERE tx.x < 8 + d.doc_id % 13 AND ty.y < 8 + d.doc_id % 11
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),
    // REAL audio-codec slice: deterministic int16 PCM through the JDK's
    // actual RIFF/WAVE writer and parser on the executors; the oracle
    // recomputes format fields + exact signal statistics arithmetically.
    spec("multimodal_wav_roundtrip", (s, dir) =>
      graft.multimodal.Multimodal.wavRoundTrip(s, Tables.documents(s, dir)),
      """SELECT d.doc_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(64 + d.doc_id % 97 AS BIGINT) AS n_samples,
        |  CAST(sum((d.doc_id * 7 + t.i * 193) % 65536 - 32768) AS BIGINT)
        |    AS sample_sum,
        |  CAST(max(abs((d.doc_id * 7 + t.i * 193) % 65536 - 32768))
        |    AS BIGINT) AS peak_abs
        |FROM documents d, range(161) t(i)
        |WHERE t.i < 64 + d.doc_id % 97
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),
    // Perceptual hashes (dHash 9x8 gradient + aHash 8x8 mean) over the
    // REAL decoded BMP pixels; integer-exact grid resize, so the oracle
    // reproduces both 64-bit fingerprints arithmetically.
    spec("image_fingerprints", (s, dir) =>
      graft.multimodal.Multimodal.imageFingerprints(s, Tables.documents(s, dir)),
      // Perceptual hashes: the oracle regenerates the deterministic pixels,
      // replays the 9x8 (dHash) / 8x8 (aHash) integer grid resize, and
      // assembles both 64-bit fingerprints as HUGEINT before the signed
      // BIGINT wrap — any engine-side deviation in the decode, the grid
      // arithmetic, or a bit position hash-mismatches.
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 13 AS w, 8 + doc_id % 11 AS h
        |  FROM documents),
        |dcells AS (
        |  SELECT doc_id, xt, yt,
        |    (doc_id + 31 * ((xt * w) // 9) + 17 * ((yt * h) // 8)) % 256 AS g
        |  FROM dims, (SELECT unnest(range(0, 9)) AS xt),
        |             (SELECT unnest(range(0, 8)) AS yt)),
        |dfph AS (
        |  SELECT a.doc_id,
        |    sum(CASE WHEN b.g > a.g
        |        THEN (1::HUGEINT << (a.yt * 8 + a.xt)) ELSE 0::HUGEINT END) AS hfp
        |  FROM dcells a JOIN dcells b
        |    ON a.doc_id = b.doc_id AND a.yt = b.yt AND b.xt = a.xt + 1
        |  WHERE a.xt < 8
        |  GROUP BY 1),
        |dfp AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN hfp >= 9223372036854775808::HUGEINT
        |         THEN hfp - 18446744073709551616::HUGEINT ELSE hfp END AS BIGINT)
        |      AS dhash
        |  FROM dfph),
        |acells AS (
        |  SELECT doc_id, xt, yt,
        |    (doc_id + 31 * ((xt * w) // 8) + 17 * ((yt * h) // 8)) % 256 AS g
        |  FROM dims, (SELECT unnest(range(0, 8)) AS xt),
        |             (SELECT unnest(range(0, 8)) AS yt)),
        |atot AS (SELECT doc_id, sum(g) AS s FROM acells GROUP BY 1),
        |afph AS (
        |  SELECT c.doc_id,
        |    sum(CASE WHEN 64 * c.g > t.s
        |        THEN (1::HUGEINT << (c.yt * 8 + c.xt)) ELSE 0::HUGEINT END) AS hfp
        |  FROM acells c JOIN atot t ON c.doc_id = t.doc_id
        |  GROUP BY 1),
        |afp AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN hfp >= 9223372036854775808::HUGEINT
        |         THEN hfp - 18446744073709551616::HUGEINT ELSE hfp END AS BIGINT)
        |      AS ahash
        |  FROM afph)
        |SELECT d.doc_id, CAST(dims.w AS INTEGER) AS width,
        |  CAST(dims.h AS INTEGER) AS height, d.dhash, a.ahash
        |FROM dfp d JOIN afp a USING (doc_id) JOIN dims USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    // Image near-dup edges: dHash through the same pigeonhole Hamming
    // banding as the SimHash text path (lossless for hamming <= 2, never
    // all-pairs); the oracle replays fingerprints, bands, join, Hamming.
    spec("image_near_dups", (s, dir) =>
      graft.multimodal.Multimodal.imageNearDups(s, Tables.documents(s, dir)),
      // Near-dup pairs: same dHash derivation, then the engine's exact
      // banding replayed (3 bands of 21/21/22 bits for maxHamming = 2),
      // candidate equi-join, exact bit_count(xor) verification.
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 13 AS w, 8 + doc_id % 11 AS h
        |  FROM documents),
        |dcells AS (
        |  SELECT doc_id, xt, yt,
        |    (doc_id + 31 * ((xt * w) // 9) + 17 * ((yt * h) // 8)) % 256 AS g
        |  FROM dims, (SELECT unnest(range(0, 9)) AS xt),
        |             (SELECT unnest(range(0, 8)) AS yt)),
        |dfph AS (
        |  SELECT a.doc_id,
        |    sum(CASE WHEN b.g > a.g
        |        THEN (1::HUGEINT << (a.yt * 8 + a.xt)) ELSE 0::HUGEINT END) AS hfp
        |  FROM dcells a JOIN dcells b
        |    ON a.doc_id = b.doc_id AND a.yt = b.yt AND b.xt = a.xt + 1
        |  WHERE a.xt < 8
        |  GROUP BY 1),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN hfp >= 9223372036854775808::HUGEINT
        |         THEN hfp - 18446744073709551616::HUGEINT ELSE hfp END AS BIGINT)
        |      AS f
        |  FROM dfph),
        |banded AS (
        |  SELECT doc_id, f, b AS band,
        |    (f >> (b * 21)) &
        |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
        |  FROM fp, (SELECT unnest(range(0, 3)) AS b))
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.f, b.f)) AS hamming
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin),
    // Image near-dups through the collapse-then-band scale path: identical
    // dHashes collapse to (rep, members) classes, banding runs on DISTINCT
    // fingerprints, edges carry pair_count = members_a * members_b.
    spec("image_near_dups_collapsed", (s, dir) =>
      graft.multimodal.Multimodal.imageNearDupsCollapsed(s, Tables.documents(s, dir)),
      // Collapse-then-band image near-dups: same dHash derivation, then
      // identical fingerprints collapse to (rep = min doc, members) classes
      // before the 3-band join over DISTINCT fingerprints; edges carry the
      // represented doc-pair multiplicity.
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 13 AS w, 8 + doc_id % 11 AS h
        |  FROM documents),
        |dcells AS (
        |  SELECT doc_id, xt, yt,
        |    (doc_id + 31 * ((xt * w) // 9) + 17 * ((yt * h) // 8)) % 256 AS g
        |  FROM dims, (SELECT unnest(range(0, 9)) AS xt),
        |             (SELECT unnest(range(0, 8)) AS yt)),
        |dfph AS (
        |  SELECT a.doc_id,
        |    sum(CASE WHEN b.g > a.g
        |        THEN (1::HUGEINT << (a.yt * 8 + a.xt)) ELSE 0::HUGEINT END) AS hfp
        |  FROM dcells a JOIN dcells b
        |    ON a.doc_id = b.doc_id AND a.yt = b.yt AND b.xt = a.xt + 1
        |  WHERE a.xt < 8
        |  GROUP BY 1),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN hfp >= 9223372036854775808::HUGEINT
        |         THEN hfp - 18446744073709551616::HUGEINT ELSE hfp END AS BIGINT)
        |      AS f
        |  FROM dfph),
        |classes AS (
        |  SELECT f, min(doc_id) AS rep, count(*) AS members FROM fp GROUP BY 1),
        |banded AS (
        |  SELECT rep, f, members, b AS band,
        |    (f >> (b * 21)) &
        |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
        |  FROM classes, (SELECT unnest(range(0, 3)) AS b))
        |SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b,
        |  bit_count(xor(a.f, b.f)) AS hamming,
        |  CAST(a.members * b.members AS BIGINT) AS pair_count
        |FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.rep < b.rep
        |WHERE bit_count(xor(a.f, b.f)) <= 2
        |ORDER BY rep_a, rep_b""".stripMargin),
    // Perceptual audio fingerprints (65-frame abs-energy envelope: delta
    // hash + profile hash, Haitsma-Kalker simplified to integer broadband
    // energies) over REAL javax.sound-decoded PCM; oracle replays samples,
    // frames, energies and both 64-bit assemblies arithmetically.
    spec("audio_fingerprints", (s, dir) =>
      graft.multimodal.Multimodal.audioFingerprints(s, Tables.documents(s, dir)),
      // Audio fingerprints: the oracle regenerates the deterministic PCM
      // samples, replays the 65 integer-boundary frames (a doc×frame grid
      // LEFT JOIN keeps empty frames at energy 0), the exact abs-energy
      // sums, and assembles both 64-bit hashes as HUGEINT before the signed
      // BIGINT wrap — any engine-side deviation in the WAV parse, frame
      // boundaries or a bit position hash-mismatches.
      (audioEnergyCte +
        """,
          |tot AS (SELECT doc_id, sum(e) AS te FROM ener GROUP BY 1),
          |afph AS (
          |  SELECT a.doc_id,
          |    sum(CASE WHEN b.e > a.e
          |        THEN (1::HUGEINT << a.f) ELSE 0::HUGEINT END) AS h
          |  FROM ener a JOIN ener b ON a.doc_id = b.doc_id AND b.f = a.f + 1
          |  WHERE a.f < 64
          |  GROUP BY 1),
          |pfph AS (
          |  SELECT e.doc_id,
          |    sum(CASE WHEN 65 * e.e > t.te
          |        THEN (1::HUGEINT << e.f) ELSE 0::HUGEINT END) AS h
          |  FROM ener e JOIN tot t ON e.doc_id = t.doc_id
          |  WHERE e.f < 64
          |  GROUP BY 1)
          |SELECT d.doc_id, CAST(d.n AS INTEGER) AS n_samples,
          |  CAST(CASE WHEN a.h >= 9223372036854775808::HUGEINT
          |       THEN a.h - 18446744073709551616::HUGEINT ELSE a.h END AS BIGINT)
          |    AS afp,
          |  CAST(CASE WHEN p.h >= 9223372036854775808::HUGEINT
          |       THEN p.h - 18446744073709551616::HUGEINT ELSE p.h END AS BIGINT)
          |    AS pfp
          |FROM docs d JOIN afph a USING (doc_id) JOIN pfph p USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin)),
    // Audio near-dup edges, collapse-then-band like the image variant.
    spec("audio_near_dups", (s, dir) =>
      graft.multimodal.Multimodal.audioNearDups(s, Tables.documents(s, dir)),
      // Audio near-dups: same envelope-delta hash, then the collapse-then-band
      // replay (classes on identical afp, 3-band join over distinct hashes,
      // exact bit_count(xor) verification, doc-pair multiplicity).
      (audioEnergyCte +
        """,
          |afph AS (
          |  SELECT a.doc_id,
          |    sum(CASE WHEN b.e > a.e
          |        THEN (1::HUGEINT << a.f) ELSE 0::HUGEINT END) AS h
          |  FROM ener a JOIN ener b ON a.doc_id = b.doc_id AND b.f = a.f + 1
          |  WHERE a.f < 64
          |  GROUP BY 1),
          |fp AS (
          |  SELECT doc_id,
          |    CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
          |         THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
          |      AS f
          |  FROM afph),
          |classes AS (
          |  SELECT f, min(doc_id) AS rep, count(*) AS members FROM fp GROUP BY 1),
          |banded AS (
          |  SELECT rep, f, members, b AS band,
          |    (f >> (b * 21)) &
          |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
          |  FROM classes, (SELECT unnest(range(0, 3)) AS b))
          |SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b,
          |  bit_count(xor(a.f, b.f)) AS hamming,
          |  CAST(a.members * b.members AS BIGINT) AS pair_count
          |FROM banded a JOIN banded b
          |  ON a.band = b.band AND a.bkey = b.bkey AND a.rep < b.rep
          |WHERE bit_count(xor(a.f, b.f)) <= 2
          |ORDER BY rep_a, rep_b""".stripMargin)),
    // Composed multimodal curation: per-stage survivor counts through
    // audio exact -> audio near -> image exact -> image near -> text exact
    // dedup, cumulative flags over ONE three-codec fingerprint scan.
    spec("crossmodal_dedup_funnel", (s, dir) =>
      graft.multimodal.Multimodal.crossmodalDedupFunnel(s, Tables.documents(s, dir)),
      // Cross-modal dedup funnel: the audio envelope hash, the image dHash
      // and md5(text) re-derived per doc, then the five stage gates replayed
      // as cumulative window/anti-join flags — exact-stage lowest-id-wins
      // windows, near-stage banded drops (lower survivor drops higher within
      // Hamming <= 2, non-cascading) — and counted with FILTER.
      ("WITH " + crossmodalGateCtes +
        """
          |SELECT CAST(0 AS INTEGER) AS stage_idx, 'ingested' AS stage,
          |       count(*) AS survivors FROM g5
          |UNION ALL SELECT 1, 'audio_exact', count(*) FILTER (WHERE f1) FROM g5
          |UNION ALL SELECT 2, 'audio_near', count(*) FILTER (WHERE f2) FROM g5
          |UNION ALL SELECT 3, 'image_exact', count(*) FILTER (WHERE f3) FROM g5
          |UNION ALL SELECT 4, 'image_near', count(*) FILTER (WHERE f4) FROM g5
          |UNION ALL SELECT 5, 'text_exact', count(*) FILTER (WHERE f5) FROM g5
          |ORDER BY stage_idx""".stripMargin)),
    // Cross-modality reuse of the near-dup cluster operator: connected
    // components over the IMAGE perceptual-hash edge list (min-label
    // propagation, lineage-truncated) — the same operator that clusters
    // text n-gram pairs, fed a different modality's edges.
    spec("image_dup_clusters", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.nearDupClusters(
        docs, graft.multimodal.Multimodal.imageNearDups(s, docs))
    },
      // Image near-dup clusters: the dHash/banding chain (as in
      // image_near_dups), then the recursive reachability closure and
      // min-label per component — the clustersCte pattern retabled onto the
      // image edge list.
      """WITH RECURSIVE dims AS (
        |  SELECT doc_id, 8 + doc_id % 13 AS w, 8 + doc_id % 11 AS h
        |  FROM documents),
        |dcells AS (
        |  SELECT doc_id, xt, yt,
        |    (doc_id + 31 * ((xt * w) // 9) + 17 * ((yt * h) // 8)) % 256 AS g
        |  FROM dims, (SELECT unnest(range(0, 9)) AS xt),
        |             (SELECT unnest(range(0, 8)) AS yt)),
        |dfph AS (
        |  SELECT a.doc_id,
        |    sum(CASE WHEN b.g > a.g
        |        THEN (1::HUGEINT << (a.yt * 8 + a.xt)) ELSE 0::HUGEINT END) AS hfp
        |  FROM dcells a JOIN dcells b
        |    ON a.doc_id = b.doc_id AND a.yt = b.yt AND b.xt = a.xt + 1
        |  WHERE a.xt < 8
        |  GROUP BY 1),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN hfp >= 9223372036854775808::HUGEINT
        |         THEN hfp - 18446744073709551616::HUGEINT ELSE hfp END AS BIGINT)
        |      AS f
        |  FROM dfph),
        |banded AS (
        |  SELECT doc_id, f, b AS band,
        |    (f >> (b * 21)) &
        |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
        |  FROM fp, (SELECT unnest(range(0, 3)) AS b)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.f, b.f)) <= 2),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.v)
        |SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin),
    // Clip-level signatures: stride-2 frame sampling, per-frame dHash over
    // REAL decoded BMP frames, per-bit majority fold; oracle replays
    // frames, pixels, hashes and the majority vote arithmetically.
    spec("video_signatures", (s, dir) =>
      graft.multimodal.Multimodal.videoSignatures(s, Tables.documents(s, dir)),
      // Video signatures: the oracle regenerates the sampled frame ids,
      // replays each frame's 9x8 dHash from the pixel formula, extracts bits
      // from the signed BIGINT hash ((fh >> b) & 1 — arithmetic sign-fill
      // never reaches bit 0), counts per-bit majorities and assembles the
      // signature as HUGEINT before the signed wrap.
      (videoSigCte +
        """
          |SELECT v.doc_id, CAST(v.nf AS INTEGER) AS n_frames,
          |  CAST((v.nf + 1) // 2 AS INTEGER) AS sampled_frames,
          |  CAST(CASE WHEN s.h >= 9223372036854775808::HUGEINT
          |       THEN s.h - 18446744073709551616::HUGEINT ELSE s.h END AS BIGINT)
          |    AS vsig
          |FROM vd v JOIN sigh s ON v.doc_id = s.doc_id
          |ORDER BY v.doc_id""".stripMargin)),
    // Video near-dup edges, collapse-then-band like audio/image.
    spec("video_near_dups", (s, dir) =>
      graft.multimodal.Multimodal.videoNearDups(s, Tables.documents(s, dir)),
      // Video near-dups: same signature derivation, then the collapse-then-
      // band replay (classes on identical vsig, 3-band join, exact Hamming).
      (videoSigCte +
        """,
          |fp AS (
          |  SELECT doc_id,
          |    CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
          |         THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
          |      AS f
          |  FROM sigh),
          |classes AS (
          |  SELECT f, min(doc_id) AS rep, count(*) AS members FROM fp GROUP BY 1),
          |banded AS (
          |  SELECT rep, f, members, b AS band,
          |    (f >> (b * 21)) &
          |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
          |  FROM classes, (SELECT unnest(range(0, 3)) AS b))
          |SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b,
          |  bit_count(xor(a.f, b.f)) AS hamming,
          |  CAST(a.members * b.members AS BIGINT) AS pair_count
          |FROM banded a JOIN banded b
          |  ON a.band = b.band AND a.bkey = b.bkey AND a.rep < b.rep
          |WHERE bit_count(xor(a.f, b.f)) <= 2
          |ORDER BY rep_a, rep_b""".stripMargin)),
    // FULL-LOOP multimodal composition: the five cross-modal gates, then
    // the surviving corpus packed into the per-(shard, bin) loader
    // manifest — multimodal curate-to-batches in one plan; the gate chain
    // parameterizes the manifest oracle's source relation.
    spec("crossmodal_train_manifest", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Pack.trainingBatchManifest(
        docs.join(
            graft.multimodal.Multimodal.crossmodalSurvivors(s, docs),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text")))
    },
      SketchOracles.trainingBatchManifestSql(
        source = "xsurv",
        prefixCtes = crossmodalGateCtes +
          ",\nxsurv AS (SELECT g5.doc_id, d.text FROM g5" +
          " JOIN documents d ON g5.doc_id = d.doc_id WHERE g5.f5),\n")),

    // ---- widened relational surface ----
    // Semi-structured extraction from the props JSON column.
    spec("props_extract_stats", (s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(
          sum(col("k")).as("k_sum"),
          count(col("k")).as("k_count"),
          (sum(col("k")) / count(col("k"))).as("k_avg"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(json_extract_string(props, '$.k')) AS k_count,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    / count(json_extract_string(props, '$.k')) AS k_avg
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Set operations: EXCEPT / INTERSECT (distinct semantics).
    spec("purchasers_never_error", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchasers = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      val earlyErrors = ev.filter(
          col("event_type") === "error" &&
            col("ts") < to_timestamp(lit("2024-01-08 00:00:00")))
        .select(col("user_id")).distinct()
      purchasers.except(earlyErrors).orderBy(col("user_id"))
    },
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        |WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-08 00:00:00'
        |ORDER BY user_id""".stripMargin),
    spec("click_and_view_users", (s, dir) => {
      val ev = Tables.events(s, dir)
      def users(t: String) =
        ev.filter(col("event_type") === t).select(col("user_id")).distinct()
      users("click").intersect(users("view")).orderBy(col("user_id"))
    },
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |ORDER BY user_id""".stripMargin),
    // CUBE grouping sets (alongside revenue_rollup's ROLLUP).
    spec("revenue_cube", (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          Analytics.decSum(col("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("order_count"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS order_count
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),
    // Exact percentiles (interpolated, matching quantile_cont).
    spec("quantity_quantiles", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          count(lit(1)).as("line_count"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  count(*) AS line_count
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // As-of join via the shuffle-once union+window merge (no pair blow-up).
    spec("events_asof_orders", (s, dir) =>
      AsOfJoin.eventsToLatestOrder(Tables.events(s, dir), Tables.orders(s, dir)),
      """WITH o1 AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS orderkey
        |            FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, o1.orderkey AS matched_orderkey
        |FROM events e ASOF JOIN o1
        |  ON e.user_id = o1.o_custkey AND o1.o_orderdate <= e.ts
        |ORDER BY e.event_id""".stripMargin),
    // Banded range join (equi-join on (user, time-bin), exact band filter).
    spec("errors_near_purchases", (s, dir) =>
      graft.operators.RangeJoin.errorsNearPurchases(Tables.events(s, dir)),
      // DuckDB evaluates the band predicate directly (IEJoin under the
      // hood) — an independent formulation from the Spark-side binning.
      """SELECT e.user_id,
        |  count(*) AS pair_count,
        |  CAST(min(abs(epoch_us(e.ts) - epoch_us(p.ts))) AS BIGINT)
        |    AS min_gap_micros,
        |  CAST(count(DISTINCT p.event_id) AS BIGINT) AS matched_purchases
        |FROM events e JOIN events p
        |  ON e.user_id = p.user_id
        | AND e.event_type = 'error' AND p.event_type = 'purchase'
        | AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 3600000000
        |GROUP BY e.user_id
        |ORDER BY e.user_id""".stripMargin),

    // Pivot: hour x event-type count matrix (conditional-aggregation shape).
    spec("hourly_pivot", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("window_start"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy(col("window_start")),
      """SELECT date_trunc('hour', ts) AS window_start,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin),

    // Sketch variant — the unbounded-cardinality path for O4. The HLL is
    // RELATIONAL (graft.operators.Hll: registers as (group, bucket, rho)
    // rows, exact fixed-point harmonic fold, JVM-shared linear-counting
    // constants), so the whole estimator has a full DuckDB oracle
    // (graft.SketchOracles.hllHourlySql) — not just a rows-only check.
    // `users_exact` (same register frame) and `hll_rel_err` are in-row
    // self-checks; Spark's builtin approx_count_distinct is cross-checked
    // against the same data in PropertySpec.
    spec("hourly_agg_approx", (s, dir) => {
      val withW = Tables.events(s, dir)
        .select(window(col("ts"), "1 hour").as("w"), col("event_type"), col("user_id"))
        .select(col("w.start").as("window_start"), col("event_type"), col("user_id"))
      graft.operators.Hll
        .approxDistinctUsersWithCount(withW, Seq("window_start", "event_type"), "user_id")
        .select(col("window_start"), col("event_type"), col("event_count"),
          col("approx_users"), col("users_exact"),
          (abs(col("approx_users") - col("users_exact")) / col("users_exact"))
            .as("hll_rel_err"))
        .orderBy(col("window_start"), col("event_type"))
    },
      SketchOracles.hllHourlySql),
    // Flat scalar output (the driver's checker can't sort array columns);
    // the exact interpolated percentile is emitted alongside the sketch
    // value as a self-check column.
    spec("quantiles_approx", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 1000000)")
            .as("q"),
          expr("percentile(l_extendedprice, 0.5)").as("p50_exact"),
          count(lit(1)).as("line_count"))
        .select(
          col("l_returnflag"),
          element_at(col("q"), 1).as("p50"),
          element_at(col("q"), 2).as("p90"),
          element_at(col("q"), 3).as("p99"),
          col("p50_exact"),
          col("line_count"))
        .orderBy(col("l_returnflag")),
      // approx_percentile at accuracy 1000000 retains every sample at harness
      // scale, so it degenerates to the exact order statistic rank ceil(p*n) —
      // the same element DuckDB's quantile_disc picks (verified at sf0.001/
      // 0.01/0.1). At genuinely approximate accuracies the oracle would be
      // dropped; the p50_exact self-check column stays valid regardless.
      """SELECT l_returnflag,
        |  quantile_disc(l_extendedprice, 0.5) AS p50,
        |  quantile_disc(l_extendedprice, 0.9) AS p90,
        |  quantile_disc(l_extendedprice, 0.99) AS p99,
        |  quantile_cont(l_extendedprice, 0.5) AS p50_exact,
        |  count(*) AS line_count
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- round 8: session/interval/indexing/sampling surface -----------

    // Native session_window batch aggregation (the merging-window operator
    // Structured Streaming shares); boundary contract ts >= prev + gap.
    spec("session_window_stats", (s, dir) =>
      Sessionize.sessionWindows(Tables.events(s, dir)),
      // Gap-islands mirror of Spark's session_window merge semantics: windows
      // [ts, ts+gap) merge when they overlap or touch, so a new session iff
      // ts > prev + gap (strict); session_end = last event + gap.
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, count(DISTINCT event_type) AS n_types,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
    // SCD2-style run compaction: event log -> validity-interval dimension.
    spec("event_type_intervals", (s, dir) =>
      Analytics.eventTypeIntervals(Tables.events(s, dir)),
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR event_type <> lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |r AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM e),
        |g AS (
        |  SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
        |    min(ts) AS valid_from, count(*) AS n_events
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT user_id, run_id, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL AS is_current,
        |  n_events
        |FROM g ORDER BY user_id, run_id""".stripMargin),
    // Explicit GROUPING SETS: two independent one-dim aggregates, one pass.
    spec("grouping_sets_revenue", (s, dir) =>
      Analytics.groupingSetsRevenue(Tables.orders(s, dir)),
      // GROUPING() bit order (first column = MSB) is the convention Spark's
      // grouping_id() shares with Postgres/DuckDB.
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS order_count
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    // TPC-H Q17 shape: correlated per-part avg via a window on the joined
    // frame (no second scan), brand filter pushed to the part scan.
    spec("tpch_q17_small_qty", (s, dir) =>
      Analytics.smallQuantityRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)),
      """WITH j AS (
        |  SELECT l_quantity, l_extendedprice,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey) AS DOUBLE)
        |      / count(*) OVER (PARTITION BY l_partkey) AS avg_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#4')
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(7.0 AS DOUBLE) AS avg_yearly,
        |  count(*) AS line_count
        |FROM j WHERE l_quantity < CAST(0.5 AS DOUBLE) * avg_qty""".stripMargin),
    // Per-dimension embedding stats (normalization/whitening audit).
    spec("embedding_dim_stats", (s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir)),
      """WITH x0 AS (
        |  SELECT unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'dim': i - 1, 'x': embedding[i]::DOUBLE})) AS s
        |  FROM embeddings),
        |x AS (SELECT CAST(s.dim AS INT) AS dim, s.x AS x FROM x0),
        |fp AS (
        |  SELECT dim, x,
        |    CAST(CAST(x AS DECIMAL(16,15)) * 1000000000000000 AS BIGINT) AS x_fp,
        |    CAST(CAST(x * x AS DECIMAL(16,15)) * 1000000000000000 AS BIGINT) AS xx_fp
        |  FROM x),
        |a AS (
        |  SELECT dim, count(*) AS n, min(x) AS min_x, max(x) AS max_x,
        |    CAST(sum(x_fp) AS BIGINT) AS sum_fp, CAST(sum(xx_fp) AS BIGINT) AS ssq_fp
        |  FROM fp GROUP BY dim),
        |d AS (
        |  SELECT dim, n, min_x, max_x,
        |    CAST(sum_fp AS DOUBLE) / 1e15 AS sx, CAST(ssq_fp AS DOUBLE) / 1e15 AS sxx
        |  FROM a)
        |SELECT dim, n, min_x, max_x,
        |  sx / n AS mean_x,
        |  (sxx - sx * sx / n) / n AS var_x
        |FROM d ORDER BY dim""".stripMargin),
    // Padding-efficiency audit over power-of-two length buckets.
    spec("length_buckets", (s, dir) =>
      TextAnalysis.lengthBuckets(Tables.documents(s, dir)),
      """WITH d AS (
        |  SELECT len(string_split(text, ' '))::BIGINT AS tokens FROM documents),
        |b AS (
        |  SELECT CASE WHEN tokens <= 16 THEN 16 WHEN tokens <= 32 THEN 32
        |    WHEN tokens <= 64 THEN 64 WHEN tokens <= 128 THEN 128
        |    WHEN tokens <= 256 THEN 256 WHEN tokens <= 512 THEN 512
        |    WHEN tokens <= 1024 THEN 1024 ELSE 2048 END AS bucket, tokens
        |  FROM d),
        |a AS (
        |  SELECT CAST(bucket AS INT) AS bucket, count(*) AS n_docs,
        |    CAST(sum(tokens) AS BIGINT) AS sum_tokens
        |  FROM b GROUP BY 1)
        |SELECT bucket, n_docs, sum_tokens,
        |  CAST(bucket AS BIGINT) * n_docs AS padded_tokens,
        |  CAST(CAST(bucket AS BIGINT) * n_docs - sum_tokens AS DOUBLE)
        |    / CAST(CAST(bucket AS BIGINT) * n_docs AS DOUBLE) AS waste_frac
        |FROM a ORDER BY bucket""".stripMargin),
    // Inverted-index build: df/tf + capped posting lists per token.
    spec("token_postings", (s, dir) =>
      TextAnalysis.tokenPostings(Tables.documents(s, dir)),
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT token, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
        |r AS (SELECT token, doc_id, tf,
        |  row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
        |  FROM tf)
        |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
        |  string_agg(CASE WHEN rn <= 5 THEN doc_id || ':' || tf END, ','
        |    ORDER BY tf DESC, doc_id) AS top_postings
        |FROM r GROUP BY token ORDER BY token""".stripMargin),
    // Per-document-rate hash gate (inverse-length weighted sampling).
    spec("quality_weighted_sample", (s, dir) =>
      graft.operators.Mixture.weightedSample(Tables.documents(s, dir)),
      SketchOracles.weightedSampleSql()),

    // ---- round 8 phase 2: classic analytics shapes ----------------------

    // TPC-H Q2 shape: min-cost supplier per part within a region (window
    // min over the filtered frame, ties kept, dims broadcast).
    spec("min_cost_supplier", (s, dir) =>
      Analytics.minCostSupplier(Tables.lineitem(s, dir), Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir)),
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, ps.cost
        |  FROM ps
        |  JOIN part p ON ps.l_partkey = p.p_partkey AND p.p_size = 15
        |  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region rg ON n.n_regionkey = rg.r_regionkey
        |    AND rg.r_name = 'EUROPE'),
        |m AS (
        |  SELECT *, min(cost) OVER (PARTITION BY p_partkey) AS min_cost
        |  FROM r)
        |SELECT p_partkey, p_brand, s_name, n_name, cost
        |FROM m WHERE cost = min_cost
        |ORDER BY p_partkey, s_name""".stripMargin),
    // TPC-H Q7 shape: directional cross-border volume by nation pair/year.
    spec("nation_trade_volume", (s, dir) =>
      Analytics.nationTradeVolume(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir)),
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS volume,
        |  count(*) AS line_count
        |FROM lineitem
        |JOIN supplier s ON l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN orders o ON l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    // TPC-H Q8 shape: one nation's share of a region's yearly volume.
    spec("market_share", (s, dir) =>
      Analytics.marketShare(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.part(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir)),
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CASE WHEN sn.n_name = 'NATION_2'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |        AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS total_volume,
        |  count(*) AS line_count
        |FROM lineitem
        |JOIN part p ON l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        |JOIN supplier s ON l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN orders o ON l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN region rg ON cn.n_regionkey = rg.r_regionkey
        |  AND rg.r_name = 'ASIA'
        |GROUP BY 1 ORDER BY o_year""".stripMargin),
    // TPC-H Q13 shape: order-count histogram incl. the zero bucket
    // (left join with the predicate ON the join).
    spec("order_count_distribution", (s, dir) =>
      Analytics.orderCountDistribution(Tables.orders(s, dir), Tables.customer(s, dir)),
      """WITH cc AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM cc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // TPC-H Q14 shape: promo revenue percent for one shipping month.
    spec("promo_revenue_share", (s, dir) =>
      Analytics.promoRevenueShare(Tables.lineitem(s, dir), Tables.part(s, dir)),
      """SELECT
        |  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0.0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |        AS DECIMAL(18,4))) AS DOUBLE) AS promo_pct,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
        |  count(*) AS line_count
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""".stripMargin),
    // TPC-H Q15 shape: top supplier(s) by quarter revenue, ties kept.
    spec("top_supplier_revenue", (s, dir) =>
      Analytics.topSupplierRevenue(Tables.lineitem(s, dir), Tables.supplier(s, dir)),
      """WITH r AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey),
        |m AS (SELECT *, max(total_revenue) OVER () AS max_revenue FROM r)
        |SELECT m.l_suppkey AS s_suppkey, s.s_name, m.total_revenue
        |FROM m JOIN supplier s ON m.l_suppkey = s.s_suppkey
        |WHERE m.total_revenue = m.max_revenue
        |ORDER BY s_suppkey""".stripMargin),
    // TPC-H Q19 shape: OR'd bracket predicates with the explicit
    // per-side pushdown rewrite.
    spec("disjunctive_brackets", (s, dir) =>
      Analytics.disjunctiveBracketRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)),
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS line_count
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // Native unpivot/melt of a wide metrics rollup to tidy rows.
    spec("event_metrics_unpivot", (s, dir) =>
      Analytics.eventMetricsUnpivot(Tables.events(s, dir)),
      // Counts widen to double losslessly (< 2^53); the UNION ALL is the
      // portable spelling of UNPIVOT with a deterministic metric order.
      """WITH a AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n_events,
        |    CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |  FROM events GROUP BY event_type)
        |SELECT event_type, metric, value FROM (
        |  SELECT event_type, 'n_events' AS metric, n_events AS value FROM a
        |  UNION ALL
        |  SELECT event_type, 'n_users', n_users FROM a
        |  UNION ALL
        |  SELECT event_type, 'value_sum', value_sum FROM a)
        |ORDER BY event_type, metric""".stripMargin),
    // Native sliding (hopping) windows: 1h windows every 15min.
    spec("sliding_window_counts", (s, dir) =>
      Analytics.slidingWindowCounts(Tables.events(s, dir)),
      // Spark's hopping windows are epoch-aligned at multiples of the slide:
      // event ts lands in the 4 windows starting at
      // 900s * (floor(epoch/900) - k), k = 0..3 — integer micro-arithmetic,
      // no float time math.
      """WITH w AS (
        |  SELECT make_timestamp((epoch_us(ts) // 900000000 - k.k) * 900000000)
        |           AS window_start,
        |         user_id, value
        |  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT window_start,
        |  window_start + INTERVAL 1 HOUR AS window_end,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM w GROUP BY window_start
        |ORDER BY window_start""".stripMargin),
    // Dyadic-exact exponential time decay (half-life 1 day).
    spec("time_decay_totals", (s, dir) =>
      Analytics.timeDecayTotals(Tables.events(s, dir)),
      // Mirror of the dyadic-exact decay: integer cents, weight as a shifted
      // integer division (no libm pow), one final /100.0.
      """WITH e AS (
        |  SELECT user_id,
        |    datediff('day', CAST(ts AS DATE), DATE '2024-01-31') AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |  WHERE value IS NOT NULL AND ts <= TIMESTAMP '2024-01-31 00:00:00'),
        |d AS (
        |  SELECT user_id, k, CAST(sum(cents) AS BIGINT) AS day_cents,
        |    count(*) AS n
        |  FROM e GROUP BY 1, 2),
        |t AS (
        |  SELECT user_id, k, n,
        |    CAST(day_cents AS DOUBLE) / CAST(1::BIGINT << k AS DOUBLE) AS term
        |  FROM d)
        |SELECT user_id, sum(term) / 100.0 AS decayed_value,
        |  CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_days,
        |  CAST(min(k) AS INT) AS newest_day
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin),
    // Exact k-NN graph with mutual-edge flag.
    spec("knn_graph", (s, dir) =>
      graft.operators.Similarity.knnGraph(Tables.embeddings(s, dir)),
      // Exact graph: per-vector inverse norms, one score per unordered pair
      // mirrored to both directions, rank window, reverse-edge left join for
      // the mutual flag. list_dot_product is the same sequential fold as the
      // native dot_product expression; sim replays the engine's exact op
      // sequence (dot * inv_a) * inv_b.
      """WITH n AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    1.0 / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS inv
        |  FROM embeddings),
        |h AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    list_dot_product(a.e, b.e) * a.inv * b.inv AS sim
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id),
        |p AS (
        |  SELECT src AS vec_id, dst AS neighbor_id, sim FROM h
        |  UNION ALL
        |  SELECT dst, src, sim FROM h),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p),
        |e AS (SELECT vec_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 3)
        |SELECT e.vec_id, e.neighbor_id, e.sim, e.rnk,
        |  (m.vec_id IS NOT NULL) AS mutual
        |FROM e LEFT OUTER JOIN e m
        |  ON e.vec_id = m.neighbor_id AND e.neighbor_id = m.vec_id
        |ORDER BY e.vec_id, e.rnk""".stripMargin),
    // Relational division: users who did every event type.
    spec("users_all_event_types", (s, dir) =>
      Analytics.usersAllEventTypes(Tables.events(s, dir)),
      """SELECT user_id,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events GROUP BY user_id
        |HAVING count(DISTINCT event_type) =
        |  (SELECT count(DISTINCT event_type) FROM events)
        |ORDER BY user_id""".stripMargin),
    // Unbounded-frame first/last/nth window functions.
    spec("user_first_last", (s, dir) =>
      Analytics.userFirstLast(Tables.events(s, dir)),
      """WITH w AS (
        |  SELECT user_id,
        |    first_value(event_type) OVER f AS first_type,
        |    last_value(event_type) OVER f AS last_type,
        |    nth_value(event_type, 2) OVER f AS second_type,
        |    CAST(count(*) OVER f AS BIGINT) AS n_events,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, first_type, last_type, second_type, n_events
        |FROM w WHERE rn = 1 ORDER BY user_id""".stripMargin),
    // TPC-H Q16 shape: distinct-supplier variety with a NOT-IN denylist.
    spec("part_supplier_variety", (s, dir) =>
      Analytics.partSupplierVariety(Tables.lineitem(s, dir), Tables.part(s, dir),
        Tables.supplier(s, dir)),
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0))
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (5, 15, 25, 35, 45)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // ---- round 8 phase 4: EXISTS shapes, exact moments, packing ---------

    // TPC-H Q4 shape: EXISTS -> left-semi with a residual date predicate.
    spec("late_shipment_priority", (s, dir) =>
      Analytics.lateShipmentPriority(Tables.orders(s, dir), Tables.lineitem(s, dir)),
      // The literal correlated-EXISTS spelling (the engine runs the
      // decorrelated left-semi form).
      """SELECT o_orderpriority, count(*) AS late_order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // TPC-H Q6 shape: pure pushed-scan scalar aggregate.
    spec("forecast_revenue_delta", (s, dir) =>
      Analytics.forecastRevenueDelta(Tables.lineitem(s, dir)),
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
        |    AS DOUBLE) AS revenue_delta,
        |  count(*) AS line_count
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    // TPC-H Q12 shape: conditional CASE aggregation on a pruned join.
    spec("priority_mix_by_flag", (s, dir) =>
      Analytics.priorityMixByFlag(Tables.lineitem(s, dir), Tables.orders(s, dir)),
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    // TPC-H Q21 shape: EXISTS + NOT EXISTS decorrelated to one agg + window.
    spec("sole_late_supplier", (s, dir) =>
      Analytics.soleLateSupplier(Tables.lineitem(s, dir), Tables.supplier(s, dir)),
      // Independent check via the literal EXISTS + NOT EXISTS spelling the
      // engine's agg+window plan decorrelates.
      """WITH ps AS (
        |  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last_ship
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p.l_suppkey AS s_suppkey, s.s_name,
        |  CAST(count(*) AS BIGINT) AS numwait
        |FROM ps p JOIN supplier s ON p.l_suppkey = s.s_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM ps o
        |    WHERE o.l_orderkey = p.l_orderkey AND o.l_suppkey <> p.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM ps o
        |    WHERE o.l_orderkey = p.l_orderkey AND o.l_suppkey <> p.l_suppkey
        |      AND o.supp_last_ship >= p.supp_last_ship)
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 50""".stripMargin),
    // Pearson corr/covar from exact DECIMAL(38,0) moment sums.
    spec("price_qty_corr", (s, dir) =>
      Analytics.priceQtyCorr(Tables.lineitem(s, dir)),
      // Exact HUGEINT moment sums -> one correctly-rounded cast each -> the
      // identical fixed IEEE op sequence as the engine.
      s"""WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    ${sqlCentsLong("l_extendedprice")} AS c
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(q AS HUGEINT) * q) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(q AS HUGEINT) * c) AS DOUBLE) AS sxy
        |  FROM m GROUP BY 1),
        |b AS (
        |  SELECT *, sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)
        |    AS denom FROM a)
        |SELECT l_returnflag, n,
        |  CASE WHEN denom > 0.0
        |    THEN round((n * sxy - sx * sy) / denom, 6) END
        |    AS qty_price_corr,
        |  round((sxy - sx * sy / n) / n / 100.0, 4) AS qty_price_covar_pop
        |FROM b ORDER BY l_returnflag""".stripMargin),
    // Ordered LISTAGG: top-5 customers per nation as a deterministic CSV.
    spec("nation_top_customers", (s, dir) =>
      Analytics.nationTopCustomerList(Tables.customer(s, dir), Tables.nation(s, dir)),
      // rank and CSV share ONE sort key (the cents fixed point), matching
      // the engine's single cents_key
      s"""WITH r AS (
        |  SELECT c_nationkey, c_name,
        |    ${sqlCentsLong("c_acctbal")} AS cents_key,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY ${sqlCentsLong("c_acctbal")} DESC, c_name) AS rn
        |  FROM customer)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_top,
        |  string_agg(c_name, ',' ORDER BY cents_key DESC, c_name)
        |    AS top_customers
        |FROM r JOIN nation ON c_nationkey = n_nationkey
        |WHERE rn <= 5
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    // Mode per group via a rank window on pre-collapsed counts.
    spec("user_top_event", (s, dir) =>
      Analytics.userTopEvent(Tables.events(s, dir)),
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY n DESC, event_type) AS rn
        |  FROM c)
        |SELECT user_id, event_type AS top_event, CAST(n AS BIGINT) AS n
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),
    // CEP shape: cart -> purchase within 30 min, no logout between.
    spec("cart_purchase_pattern", (s, dir) =>
      Analytics.cartToPurchase(Tables.events(s, dir)),
      """WITH w AS (
        |  SELECT user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'add_to_cart' THEN ts END)
        |      OVER b AS last_cart_ts,
        |    max(CASE WHEN event_type = 'logout' THEN ts END)
        |      OVER b AS last_logout_ts
        |  FROM events
        |  WINDOW b AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (
        |  SELECT user_id,
        |    CASE WHEN last_cart_ts IS NOT NULL
        |      AND ts <= last_cart_ts + INTERVAL 30 MINUTE
        |      AND (last_logout_ts IS NULL OR last_logout_ts < last_cart_ts)
        |      THEN 1 ELSE 0 END AS m
        |  FROM w WHERE event_type = 'purchase')
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(m) AS BIGINT) AS n_matched
        |FROM p GROUP BY user_id
        |HAVING sum(m) > 0
        |ORDER BY user_id""".stripMargin),
    // Pretraining sequence packing: concat-and-chunk per source, exact fill.
    spec("token_pack_bins", (s, dir) =>
      TextAnalysis.tokenPackBins(Tables.documents(s, dir)),
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, tokens,
        |    sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d),
        |s AS (
        |  SELECT source, tokens, CAST(cum - tokens AS BIGINT) AS first_tok,
        |    CAST(cum - 1 AS BIGINT) AS last_tok
        |  FROM c),
        |e AS (
        |  SELECT source, first_tok, last_tok,
        |    unnest(generate_series(first_tok // 2048, last_tok // 2048)) AS bin
        |  FROM s)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN first_tok // 2048 = bin THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_starting,
        |  CAST(sum(least(last_tok, (bin + 1) * 2048 - 1)
        |    - greatest(first_tok, bin * 2048) + 1) AS BIGINT) AS fill_tokens
        |FROM e GROUP BY 1, 2 ORDER BY source, bin""".stripMargin),
    // Fixed-weight logistic quality gate (classifier inference surface).
    spec("quality_logit", (s, dir) =>
      TextAnalysis.qualityLogit(Tables.documents(s, dir), stopwords),
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS token_count,
         |    CAST(len(list_filter(toks, x -> x IN ($stopwordsSqlList)))
         |      AS DOUBLE) / len(toks) AS stop_ratio,
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         |      AS distinct_ratio
         |  FROM t),
         |z AS (
         |  SELECT doc_id, token_count, stop_ratio,
         |    -1.5 + (token_count / 100.0) * 0.8 + stop_ratio * (-3.0)
         |      + distinct_ratio * 2.0 AS z
         |  FROM f)
         |SELECT doc_id, token_count,
         |  round(stop_ratio, 6) AS stopword_ratio,
         |  round(1.0 / (1.0 + exp(-z)), 4) AS quality_score,
         |  round(1.0 / (1.0 + exp(-z)), 4) >= 0.5 AS keep
         |FROM z ORDER BY doc_id""".stripMargin),

    // ---- round 8 phase 5: graph centrality, skyline, gapfill, DQ --------

    // Fixed-point integer PageRank over the shared-8-gram doc graph.
    spec("doc_pagerank", (s, dir) =>
      Centrality.docPagerank(Tables.documents(s, dir)),
      // The whole fixed-point recurrence replayed on STRING shingles (the
      // engine groups on xxhash64 of the same shingles — identical
      // equivalence classes, same precedent as cross_doc_ngrams). Integer //
      // and DIV agree (all values non-negative).
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
        |            FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(toks) - 6),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |         toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
        |         toks[i+6] || ' ' || toks[i+7]))) AS shingle
        |  FROM tk),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |shf AS (SELECT doc_id, shingle FROM sh JOIN df USING (shingle)
        |        WHERE df BETWEEN 2 AND 50),
        |pr AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |       FROM shf a JOIN shf b USING (shingle) WHERE a.doc_id < b.doc_id),
        |ed AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
        |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
        |r0 AS (SELECT src AS doc_id, CAST(1000000 AS BIGINT) AS rank FROM dg),
        |c1 AS (SELECT e.dst, CAST(sum(r.rank // d.deg) AS BIGINT) AS inflow
        |       FROM ed e JOIN r0 r ON e.src = r.doc_id
        |       JOIN dg d ON e.src = d.src GROUP BY 1),
        |r1 AS (SELECT dst AS doc_id,
        |       CAST(150000 + (85 * inflow) // 100 AS BIGINT) AS rank FROM c1),
        |c2 AS (SELECT e.dst, CAST(sum(r.rank // d.deg) AS BIGINT) AS inflow
        |       FROM ed e JOIN r1 r ON e.src = r.doc_id
        |       JOIN dg d ON e.src = d.src GROUP BY 1),
        |r2 AS (SELECT dst AS doc_id,
        |       CAST(150000 + (85 * inflow) // 100 AS BIGINT) AS rank FROM c2),
        |c3 AS (SELECT e.dst, CAST(sum(r.rank // d.deg) AS BIGINT) AS inflow
        |       FROM ed e JOIN r2 r ON e.src = r.doc_id
        |       JOIN dg d ON e.src = d.src GROUP BY 1),
        |r3 AS (SELECT dst AS doc_id,
        |       CAST(150000 + (85 * inflow) // 100 AS BIGINT) AS rank FROM c3)
        |SELECT d.doc_id, CAST(COALESCE(dg.deg, 0) AS BIGINT) AS degree,
        |  CAST(COALESCE(r3.rank, 150000) AS BIGINT) AS rank_micro
        |FROM documents d
        |LEFT JOIN dg ON d.doc_id = dg.src
        |LEFT JOIN r3 ON d.doc_id = r3.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // Skyline / Pareto frontier on (unit price, ship delay) fixed-point axes.
    spec("pareto_suppliers", (s, dir) =>
      Analytics.paretoSuppliers(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.supplier(s, dir)),
      // Independent dominance spelling: literal NOT EXISTS over the same
      // fixed-point metrics (the engine runs the sort-filter window form).
      s"""WITH ps AS (
        |  SELECT l_suppkey, count(*) AS n_lines,
        |    CAST(sum(${sqlCentsLong("l_extendedprice")}) AS BIGINT)
        |      AS total_cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |    CAST(sum(datediff('day', o_orderdate, l_shipdate)) AS BIGINT)
        |      AS total_delay
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |m AS (
        |  SELECT l_suppkey, CAST(n_lines AS BIGINT) AS n_lines,
        |    total_cents // total_qty AS unit_price_cents,
        |    (total_delay * 1000000) // n_lines AS delay_micro_days
        |  FROM ps)
        |SELECT s_suppkey, s_name, n_lines, unit_price_cents, delay_micro_days,
        |  NOT EXISTS (
        |    SELECT 1 FROM m o
        |    WHERE o.unit_price_cents <= m.unit_price_cents
        |      AND o.delay_micro_days <= m.delay_micro_days
        |      AND (o.unit_price_cents < m.unit_price_cents
        |        OR o.delay_micro_days < m.delay_micro_days)) AS on_frontier
        |FROM m JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY s_suppkey""".stripMargin),
    // Dense hourly spine with zero-fill, running totals, and LOCF.
    spec("hourly_gapfill", (s, dir) =>
      Analytics.hourlyGapfill(Tables.events(s, dir)),
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (
        |  SELECT event_type,
        |    unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR))
        |      AS hour
        |  FROM h GROUP BY event_type),
        |j AS (
        |  SELECT sp.event_type, sp.hour, COALESCE(h.n, 0) AS n_events
        |  FROM sp LEFT JOIN h ON sp.event_type = h.event_type
        |    AND sp.hour = h.hour)
        |SELECT event_type, hour, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(sum(n_events) OVER (PARTITION BY event_type ORDER BY hour)
        |    AS BIGINT) AS cum_events,
        |  max(CASE WHEN n_events > 0 THEN hour END)
        |    OVER (PARTITION BY event_type ORDER BY hour) AS last_active_hour,
        |  n_events = 0 AS is_gap
        |FROM j ORDER BY event_type, hour""".stripMargin),
    // FULL OUTER reconciliation of pre-aggregated per-key counts.
    spec("order_event_reconcile", (s, dir) =>
      Analytics.orderEventReconcile(Tables.orders(s, dir), Tables.events(s, dir)),
      """WITH o AS (SELECT o_custkey, count(*) AS n_orders
        |           FROM orders GROUP BY 1),
        |e AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1)
        |SELECT COALESCE(o_custkey, user_id) AS user_id,
        |  CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
        |  CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
        |  CASE WHEN COALESCE(n_orders, 0) > 0 AND COALESCE(n_events, 0) > 0
        |         THEN 'both'
        |       WHEN COALESCE(n_orders, 0) > 0 THEN 'orders_only'
        |       ELSE 'events_only' END AS presence
        |FROM o FULL OUTER JOIN e ON o_custkey = user_id
        |ORDER BY 1""".stripMargin),
    // Exact median + MAD robust outlier counts on integer cents.
    spec("median_mad_outliers", (s, dir) =>
      Analytics.medianMadOutliers(Tables.orders(s, dir)),
      // quantile_cont == Spark's exact percentile: both interpolate at
      // (n-1)*p on sorted values; inputs are integer cents so every
      // interpolated double is exact (half-integer grid).
      s"""WITH o AS (
        |  SELECT o_orderpriority,
        |    ${sqlCentsLong("o_totalprice")} AS cents
        |  FROM orders),
        |m AS (
        |  SELECT o_orderpriority, quantile_cont(cents, 0.5) AS median_cents,
        |    count(*) AS n
        |  FROM o GROUP BY 1),
        |d AS (
        |  SELECT o.o_orderpriority, m.n, m.median_cents,
        |    abs(o.cents - m.median_cents) AS adev
        |  FROM o JOIN m USING (o_orderpriority)),
        |md AS (
        |  SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad_cents
        |  FROM d GROUP BY 1),
        |f AS (
        |  SELECT d.o_orderpriority, CAST(any_value(d.n) AS BIGINT) AS n,
        |    any_value(d.median_cents) AS median_cents,
        |    any_value(md.mad_cents) AS mad_cents,
        |    CAST(sum(CASE WHEN d.adev > 3.0 * 1.4826 * md.mad_cents
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |  FROM d JOIN md USING (o_orderpriority) GROUP BY 1)
        |SELECT o_orderpriority, n, median_cents, mad_cents, n_outliers,
        |  (n_outliers * 1000000) // n AS outlier_ppm
        |FROM f ORDER BY o_orderpriority""".stripMargin),
    // Deequ-style one-scan-per-table constraint report.
    spec("dq_report", (s, dir) =>
      DataQuality.report(Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.customer(s, dir), Tables.events(s, dir), Tables.documents(s, dir)),
      """WITH r AS (
        |  SELECT 'orders' AS table_name, 'orderkey_not_null' AS check_name,
        |    count(*) AS checked,
        |    CAST(COALESCE(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'orderkey_unique', count(*),
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'totalprice_positive', count(*),
        |    CAST(COALESCE(sum(CASE WHEN NOT (o_totalprice > 0.0) THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'orderdate_in_range', count(*),
        |    CAST(COALESCE(sum(CASE WHEN o_orderdate NOT BETWEEN
        |      TIMESTAMP '1992-01-01 00:00:00' AND TIMESTAMP '1998-12-31 23:59:59'
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', 'quantity_in_1_50', count(*),
        |    CAST(COALESCE(sum(CASE WHEN l_quantity NOT BETWEEN 1.0 AND 50.0
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem', 'discount_in_range', count(*),
        |    CAST(COALESCE(sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem', 'price_positive', count(*),
        |    CAST(COALESCE(sum(CASE WHEN NOT (l_extendedprice > 0.0) THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem', 'orderkey_fk_orders', count(*),
        |    CAST(COALESCE(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0)
        |      AS BIGINT)
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'customer', 'custkey_unique', count(*),
        |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) FROM customer
        |  UNION ALL
        |  SELECT 'customer', 'mktsegment_not_empty', count(*),
        |    CAST(COALESCE(sum(CASE WHEN c_mktsegment IS NULL OR length(c_mktsegment) = 0
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) FROM customer
        |  UNION ALL
        |  SELECT 'events', 'ts_not_null', count(*),
        |    CAST(COALESCE(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'events', 'user_not_null', count(*),
        |    CAST(COALESCE(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'events', 'event_id_unique', count(*),
        |    CAST(count(*) - count(DISTINCT event_id) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'documents', 'text_not_empty', count(*),
        |    CAST(COALESCE(sum(CASE WHEN text IS NULL OR length(text) = 0
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'documents', 'n_chars_consistent', count(*),
        |    CAST(COALESCE(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) FROM documents)
        |SELECT table_name, check_name, CAST(checked AS BIGINT) AS checked,
        |  violations, violations = 0 AS pass
        |FROM r ORDER BY table_name, check_name""".stripMargin),
    // Order-independent per-table content checksums (anti-entropy).
    spec("table_fingerprints", (s, dir) =>
      DataQuality.tableFingerprints(Tables.orders(s, dir),
        Tables.lineitem(s, dir), Tables.customer(s, dir),
        Tables.events(s, dir), Tables.documents(s, dir)),
      // Replays the engine's canonical serialization (cents fixed point,
      // epoch micros, pipe-delimited) and the RollingHash polynomial per
      // row, then the same sum-mod-p fold — HUGEINT keeps the sum exact.
      Seq(
        fpOracle("customer", Seq(sqlStr("c_custkey"), "c_name",
          sqlStr("c_nationkey"), sqlCents("c_acctbal"), "c_mktsegment")),
        fpOracle("documents", Seq(sqlStr("doc_id"), "lang", "source",
          sqlStr("n_chars"), "text"), where = asciiGuard),
        fpOracle("events", Seq(sqlStr("event_id"),
          "CAST(epoch_us(ts) AS VARCHAR)", sqlStr("user_id"), "event_type",
          sqlCents("value"), "props")),
        fpOracle("lineitem", Seq(sqlStr("l_orderkey"), sqlStr("l_linenumber"),
          sqlStr("l_partkey"), sqlStr("l_suppkey"), sqlCents("l_quantity"),
          sqlCents("l_extendedprice"), sqlCents("l_discount"),
          sqlCents("l_tax"), "l_returnflag", "l_linestatus",
          "CAST(epoch_us(l_shipdate) AS VARCHAR)")),
        fpOracle("orders", Seq(sqlStr("o_orderkey"), sqlStr("o_custkey"),
          "o_orderstatus", sqlCents("o_totalprice"),
          "CAST(epoch_us(o_orderdate) AS VARCHAR)", "o_orderpriority")))
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")),
    // BPE TRAINING step: corpus-weighted adjacent-symbol-pair counts.
    spec("bpe_pair_counts", (s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir)),
      // The corpus collapses to word frequencies first; pair explode runs
      // on distinct words only (the engine's map-reduce BPE shape).
      """WITH wf AS (
        |  SELECT word, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) >= 2
        |  GROUP BY 1)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM (SELECT freq, unnest(list_transform(range(1, length(word)),
        |        i -> word[i:i+1])) AS pair
        |      FROM wf)
        |GROUP BY 1
        |ORDER BY pair_count DESC, pair
        |LIMIT 20""".stripMargin),

    // ---- round 8 phase 7: the remaining TPC-H shapes --------------------

    // TPC-H Q9 shape: profit by supplier nation x order year.
    spec("product_profit", (s, dir) =>
      Analytics.productProfit(Tables.lineitem(s, dir), Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.orders(s, dir)),
      """SELECT n_name, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
        |     - sum(CAST(p_retailprice * 0.1 * l_quantity AS DECIMAL(18,4)))
        |    AS DOUBLE) AS profit,
        |  count(*) AS line_count
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    // TPC-H Q11 shape: per-part value above a per-mille of a nation total.
    spec("important_part_values", (s, dir) =>
      Analytics.importantPartValues(Tables.lineitem(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir)),
      // The literal scalar-subquery spelling of the per-mille threshold the
      // engine computes via a broadcast 1-row total.
      """WITH np AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS value_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY 1)
        |SELECT l_partkey, value_cents FROM np
        |WHERE value_cents > (SELECT 1 * sum(value_cents) // 10000 FROM np)
        |ORDER BY value_cents DESC, l_partkey""".stripMargin),
    // TPC-H Q18 shape: IN (GROUP BY HAVING) large-volume orders.
    spec("large_volume_customers", (s, dir) =>
      Analytics.largeVolumeCustomers(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir)),
      // The literal IN (GROUP BY HAVING) spelling.
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(t.qsum AS DOUBLE) AS total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qsum
        |      FROM lineitem GROUP BY 1
        |      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300) t
        |  ON o_orderkey = t.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin),
    // TPC-H Q20 shape: half-of-lifetime-in-one-year supplier concentration.
    spec("supplier_year_concentration", (s, dir) =>
      Analytics.supplierYearConcentration(Tables.lineitem(s, dir),
        Tables.supplier(s, dir), Tables.part(s, dir)),
      """WITH pq AS (
        |  SELECT l_suppkey, l_partkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_total,
        |    sum(CASE WHEN year(l_shipdate) = 1995
        |        THEN CAST(l_quantity AS DECIMAL(18,2))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS qty_year
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'small%'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS concentrated_parts
        |FROM pq JOIN supplier ON l_suppkey = s_suppkey
        |WHERE qty_year * 2 > qty_total
        |GROUP BY 1, 2
        |ORDER BY concentrated_parts DESC, s_suppkey""".stripMargin),
    // TPC-H Q22 shape: above-average balances with no recent orders.
    spec("idle_customer_balances", (s, dir) =>
      Analytics.idleCustomerBalances(Tables.customer(s, dir), Tables.orders(s, dir)),
      // The literal scalar-average + NOT EXISTS spelling; the average
      // compare is division-free on both sides (bal*n > sum).
      """WITH eligible AS (
        |  SELECT CAST(c_custkey % 10 AS BIGINT) AS cntry_code, c_custkey,
        |    c_acctbal,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
        |  FROM customer
        |  WHERE CAST(c_custkey % 10 AS INTEGER) IN (1, 3, 5, 7, 9)
        |    AND c_acctbal > 0.0),
        |st AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_cents,
        |              count(*) AS n_eligible FROM eligible)
        |SELECT cntry_code, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM eligible, st
        |WHERE bal_cents * n_eligible > sum_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Gaps-and-islands: per-user consecutive-day activity streaks.
    spec("activity_streaks", (s, dir) =>
      Analytics.activityStreaks(Tables.events(s, dir)),
      // The same islands construction (day - row_number) replayed verbatim.
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS INTEGER) AS island
        |  FROM days),
        |st AS (
        |  SELECT user_id, island, count(*) AS len, min(day) AS start_day
        |  FROM isl GROUP BY 1, 2),
        |mx AS (SELECT *, max(len) OVER (PARTITION BY user_id) AS maxlen
        |       FROM st)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS longest_streak,
        |  min(CASE WHEN len = maxlen THEN start_day END) AS longest_start
        |FROM mx GROUP BY 1 ORDER BY user_id""".stripMargin),
    // First-order Markov transition matrix with exact ppm probabilities.
    spec("event_transitions", (s, dir) =>
      Analytics.eventTransitions(Tables.events(s, dir)),
      """WITH p AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, count(*) AS n_transitions
        |      FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n_transitions,
        |  CAST(sum(n_transitions) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS from_total,
        |  CAST(n_transitions * 1000000
        |    // sum(n_transitions) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS prob_ppm
        |FROM c ORDER BY event_type, next_type""".stripMargin),
    // Most common session journeys (first-5-event paths).
    spec("session_paths", (s, dir) =>
      Analytics.sessionPaths(Tables.events(s, dir)),
      // DuckDB has a true ordered string_agg; the engine emulates it with
      // rank-prefixed sortable keys inside the aggregation.
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_index
        |  FROM tagged),
        |rn AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, session_index
        |      ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, session_index) AS n_events
        |  FROM sess),
        |pth AS (
        |  SELECT user_id, session_index, n_events,
        |    string_agg(CASE WHEN rn <= 5 THEN event_type END, '->' ORDER BY rn)
        |      AS path
        |  FROM rn GROUP BY 1, 2, 3)
        |SELECT path, count(*) AS n_sessions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(n_events) AS BIGINT) AS total_events
        |FROM pth GROUP BY 1 ORDER BY n_sessions DESC, path""".stripMargin),
    // Exact one-pass distributed variance/skewness numerators on cents.
    spec("value_moments", (s, dir) =>
      Analytics.valueMoments(Tables.events(s, dir)),
      // All integer math in HUGEINT (max ~1.7e38; terms bounded ~5e32).
      """WITH v AS (
        |  SELECT event_type,
        |    CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
        |      AS d
        |  FROM events WHERE value IS NOT NULL),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(d) AS s1, sum(d*d) AS s2, sum(d*d*d) AS s3
        |  FROM v GROUP BY 1),
        |m AS (
        |  SELECT event_type, n, s1,
        |    n*s2 - s1*s1 AS m2n,
        |    n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS m3n2
        |  FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(s1 AS BIGINT) AS sum_cents,
        |  CAST(s1 * 1000000 // n AS BIGINT) AS mean_cents_micro,
        |  CAST(m2n AS VARCHAR) AS m2_n_str,
        |  CAST(m2n // (n*n) AS BIGINT) AS var_cents2,
        |  CAST(m3n2 AS VARCHAR) AS m3_n2_str,
        |  CAST(CASE WHEN m3n2 > 0 THEN 1 WHEN m3n2 < 0 THEN -1 ELSE 0 END
        |    AS BIGINT) AS skew_sign
        |FROM m ORDER BY event_type""".stripMargin),
    // MOSS winnowing fingerprints (char 8-grams, window 4) — the native
    // one-pass WinnowStats expression is the hot path (28x the
    // explode+window spelling, equality-spec-pinned identical output).
    spec("winnow_fingerprints", (s, dir) =>
      TextAnalysis.winnowFingerprintsNative(Tables.documents(s, dir)),
      // The WHOLE winnowing pipeline replayed: per-position FNV-1a folds
      // (HUGEINT mod 2^64, signed view for min-ordering parity), frame
      // window minima, rightmost-tie selection join, distinct, checksum.
      // The same SQL oracles BOTH spellings (declarative and native
      // expression) — they are output-identical by contract.
      winnowOracleSql),
    // Exact triangle counts + clustering coefficient on the doc graph.
    spec("doc_triangles", (s, dir) =>
      Centrality.docTriangles(Tables.documents(s, dir)),
      // Same edge construction as the doc_pagerank oracle (string shingles
      // stand in for the engine's xxhash64 equivalence classes), then the
      // ordered-orientation triangle join replayed literally.
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
        |            FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(toks) - 6),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |         toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
        |         toks[i+6] || ' ' || toks[i+7]))) AS shingle
        |  FROM tk),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |shf AS (SELECT doc_id, shingle FROM sh JOIN df USING (shingle)
        |        WHERE df BETWEEN 2 AND 50),
        |pr AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |       FROM shf a JOIN shf b USING (shingle) WHERE a.doc_id < b.doc_id),
        |tri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM pr e1
        |  JOIN pr e2 ON e1.dst = e2.src
        |  JOIN pr e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |crn AS (SELECT a AS doc_id FROM tri
        |        UNION ALL SELECT b FROM tri
        |        UNION ALL SELECT c FROM tri),
        |tc AS (SELECT doc_id, count(*) AS tri_cnt FROM crn GROUP BY 1),
        |ed AS (SELECT src AS doc_id FROM pr UNION ALL SELECT dst FROM pr),
        |dg AS (SELECT doc_id, count(*) AS deg FROM ed GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(dg.deg, 0) AS BIGINT) AS degree,
        |  CAST(COALESCE(tc.tri_cnt, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN COALESCE(dg.deg, 0) >= 2
        |    THEN 2 * COALESCE(tc.tri_cnt, 0) * 1000000
        |         // (dg.deg * (dg.deg - 1))
        |    ELSE 0 END AS BIGINT) AS clustering_ppm
        |FROM documents d
        |LEFT JOIN dg ON d.doc_id = dg.doc_id
        |LEFT JOIN tc ON d.doc_id = tc.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // Keep-best (highest-quality) member per near-dup cluster.
    spec("dedup_keep_best", (s, dir) =>
      graft.operators.Curation.keepBestPerCluster(
        Tables.documents(s, dir), stopwords),
      // Same closure as dedup_clusters, then the quality_logit score and a
      // rank window pick each cluster's keeper (rounded score desc, doc_id).
      (clustersCte +
        s""", cl AS (
          |  SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
          |  FROM reach GROUP BY v),
          |t2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |f2 AS (
          |  SELECT doc_id,
          |    CAST(len(toks) AS BIGINT) AS token_count,
          |    CAST(len(list_filter(toks, x -> x IN ($stopwordsSqlList)))
          |      AS DOUBLE) / len(toks) AS stop_ratio,
          |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
          |      AS distinct_ratio
          |  FROM t2),
          |q2 AS (
          |  SELECT doc_id,
          |    round(1.0 / (1.0 + exp(-(-1.5 + (token_count / 100.0) * 0.8
          |      + stop_ratio * (-3.0) + distinct_ratio * 2.0))), 4)
          |      AS quality_score
          |  FROM f2),
          |rk AS (
          |  SELECT cl.cluster_id, cl.doc_id, q2.quality_score,
          |    row_number() OVER (PARTITION BY cl.cluster_id
          |      ORDER BY q2.quality_score DESC, cl.doc_id) AS rn
          |  FROM cl JOIN q2 ON cl.doc_id = q2.doc_id)
          |SELECT cluster_id, doc_id, quality_score, rn = 1 AS is_kept
          |FROM rk ORDER BY doc_id""".stripMargin)),
    // Sweep-line interval concurrency: max simultaneous sessions per day.
    spec("concurrent_sessions", (s, dir) =>
      Analytics.concurrentSessions(Tables.events(s, dir)),
      // The same clip-to-day sweep: -1 sorts before +1 at equal t (touching
      // sessions are not concurrent); the peak is tie-order invariant.
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |sw AS (
        |  SELECT user_id, min(ts) AS session_start,
        |    max(ts) + INTERVAL 30 MINUTE AS session_end
        |  FROM s GROUP BY user_id, sid),
        |bd AS (
        |  SELECT user_id, session_start, session_end,
        |    CAST(unnest(generate_series(CAST(session_start AS DATE),
        |      CAST(session_end - INTERVAL 1 MICROSECOND AS DATE),
        |      INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM sw),
        |bd2 AS (
        |  SELECT user_id, day,
        |    greatest(session_start, CAST(day AS TIMESTAMP)) AS st,
        |    least(session_end, CAST(day + 1 AS TIMESTAMP)) AS en
        |  FROM bd),
        |sweep AS (
        |  SELECT day, st AS t, 1 AS delta FROM bd2
        |  UNION ALL
        |  SELECT day, en, -1 FROM bd2 WHERE en < CAST(day + 1 AS TIMESTAMP)),
        |run AS (
        |  SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY t, delta
        |    ROWS UNBOUNDED PRECEDING) AS running
        |  FROM sweep),
        |pk AS (SELECT day, CAST(max(running) AS BIGINT) AS max_concurrent
        |       FROM run GROUP BY 1)
        |SELECT bd2.day, count(*) AS n_sessions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  pk.max_concurrent
        |FROM bd2 JOIN pk USING (day)
        |GROUP BY bd2.day, pk.max_concurrent
        |ORDER BY bd2.day""".stripMargin),
    // The declarative explode+window spelling of the same pipeline —
    // kept oracled as executable documentation of the algorithm the
    // native expression compresses (same output, same oracle).
    spec("winnow_fingerprints_decl", (s, dir) =>
      TextAnalysis.winnowFingerprints(Tables.documents(s, dir)),
      winnowOracleSql),
    // Winnowing-based near-dup candidate pairs (df-capped hash join).
    spec("winnow_candidate_pairs", (s, dir) =>
      TextAnalysis.winnowCandidatePairs(Tables.documents(s, dir)),
      winnowPairsOracleSql),
    // Eval-integrity audit: near-dup pairs straddling train/val/test.
    spec("split_leakage", (s, dir) =>
      TextAnalysis.splitLeakage(Tables.documents(s, dir)),
      splitLeakageOracleSql),
    // Rendezvous (HRW) sharding + the minimal-movement expansion audit.
    spec("rendezvous_shards", (s, dir) =>
      graft.operators.Mixture.rendezvousShards(Tables.documents(s, dir)),
      SketchOracles.rendezvousSql()),
    // Composed output-side pipeline: HRW content sharding -> per-shard
    // concatenate-then-chunk stream -> per-(shard, bin) loader manifest.
    spec("training_batch_manifest", (s, dir) =>
      graft.operators.Pack.trainingBatchManifest(Tables.documents(s, dir)),
      SketchOracles.trainingBatchManifestSql()),
    // FULL-LOOP composition: regenerate the corpus (trim-apply -> exact
    // dedup -> re-split), then pack the regenerated TRAIN split into the
    // loader manifest — curate-to-batches in one plan.
    spec("regen_train_manifest", (s, dir) =>
      graft.operators.Pack.trainingBatchManifest(
        graft.operators.Curation.regenCorpus(Tables.documents(s, dir))
          .filter(col("split") === "train")
          .select(col("doc_id"), col("cleaned_text").as("text"))),
      SketchOracles.trainingBatchManifestSql(
        source = "(SELECT doc_id, cleaned_text AS text FROM tagged" +
          " WHERE split = 'train')",
        prefixCtes = graft.operators.Curation.regenCtes() + ",\n")),
    // Incremental cross-modal dedup: arrivals (doc_id >= 250, the
    // incremental_dedup convention) gated against the standing corpus on
    // all three modal fingerprints (banded near-match probe incl. exact)
    // plus arrival-internal exact gates; emits survivors WITH their
    // fingerprints — the delta appended to the standing index.
    spec("incremental_crossmodal", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.multimodal.Multimodal.incrementalCrossmodal(
        s, docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250))
    },
      // Incremental cross-modal dedup: fingerprints for every doc, then the
      // arrival slice (>= 250) probed against the corpus slice's distinct
      // fingerprints — banded near-match (Hamming <= 2, exact included),
      // text-digest anti-join, then the three internal lowest-id windows.
      ("WITH " + crossmodalFpCtes +
        """,
          |arr AS (SELECT * FROM fps WHERE doc_id >= 250),
          |ca AS (SELECT DISTINCT afp FROM fps WHERE doc_id < 250),
          |ci AS (SELECT DISTINCT dh FROM fps WHERE doc_id < 250),
          |ct AS (SELECT DISTINCT th FROM fps WHERE doc_id < 250),
          |pa AS (
          |  SELECT doc_id, afp, b,
          |    (afp >> (b * 21)) &
          |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
          |  FROM arr, (SELECT unnest(range(0, 3)) AS b)),
          |xa AS (
          |  SELECT afp AS iafp, b,
          |    (afp >> (b * 21)) &
          |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
          |  FROM ca, (SELECT unnest(range(0, 3)) AS b)),
          |da AS (
          |  SELECT DISTINCT p.doc_id FROM pa p JOIN xa x
          |    ON p.b = x.b AND p.bkey = x.bkey
          |  WHERE bit_count(xor(p.afp, x.iafp)) <= 2),
          |pi AS (
          |  SELECT doc_id, dh, b,
          |    (dh >> (b * 21)) &
          |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
          |  FROM arr, (SELECT unnest(range(0, 3)) AS b)),
          |xi AS (
          |  SELECT dh AS idh, b,
          |    (dh >> (b * 21)) &
          |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
          |  FROM ci, (SELECT unnest(range(0, 3)) AS b)),
          |di AS (
          |  SELECT DISTINCT p.doc_id FROM pi p JOIN xi x
          |    ON p.b = x.b AND p.bkey = x.bkey
          |  WHERE bit_count(xor(p.dh, x.idh)) <= 2),
          |s0 AS (
          |  SELECT a.* FROM arr a
          |  LEFT JOIN da ON a.doc_id = da.doc_id
          |  LEFT JOIN di ON a.doc_id = di.doc_id
          |  WHERE da.doc_id IS NULL AND di.doc_id IS NULL
          |    AND a.th NOT IN (SELECT th FROM ct)),
          |j1 AS (
          |  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY afp) AS i1
          |  FROM s0),
          |j2 AS (
          |  SELECT *, i1 AND doc_id =
          |      min(CASE WHEN i1 THEN doc_id END) OVER (PARTITION BY dh) AS i2
          |  FROM j1),
          |j3 AS (
          |  SELECT *, i2 AND doc_id =
          |      min(CASE WHEN i2 THEN doc_id END) OVER (PARTITION BY th) AS i3
          |  FROM j2)
          |SELECT doc_id, afp, dh AS dhash, th FROM j3 WHERE i3
          |ORDER BY doc_id""".stripMargin)),
    // Distributed Lloyd's k-means over the FULL embedding corpus in exact
    // fixed-point arithmetic (assignment = map-only argmin over literal
    // centroids; update = one (cluster,dim)-keyed partial-agg shuffle) —
    // the whole fit, init through final assignment, is reproduced
    // bit-exactly by the DuckDB oracle's CTE chain.
    spec("kmeans_clusters", (s, dir) =>
      graft.operators.KMeans.clusterProfile(Tables.embeddings(s, dir)),
      // Distributed k-means: the full exact-arithmetic Lloyd fit (quantize,
      // init, per-iteration argmin assignment + truncating-division means,
      // empty-cluster carry, final assignment) replayed as one generated
      // CTE chain — emitted from the same Scala generator as the engine's
      // iteration count, so engine and oracle can only diverge by
      // semantics, never by a typo.
      graft.operators.KMeans.clusterProfileOracleSql()),
    // Cluster-balanced prototype selection: per cluster, the quota most
    // central vectors (quota = the smallest cluster's size) — the
    // balanced-coreset curation step over the same cached fit.
    spec("kmeans_prototypes", (s, dir) =>
      graft.operators.KMeans.prototypes(Tables.embeddings(s, dir)),
      graft.operators.KMeans.prototypesOracleSql()),
    // Lloyd convergence audit: per-iteration exact inertia + moved count.
    spec("kmeans_convergence", (s, dir) =>
      graft.operators.KMeans.convergence(Tables.embeddings(s, dir)),
      graft.operators.KMeans.convergenceOracleSql()),
    // Cluster-then-balance: every discovered domain (k-means cluster)
    // gets the same token budget, filled most-central-first.
    spec("kmeans_domain_mixture", (s, dir) =>
      graft.operators.KMeans.domainMixture(
        Tables.documents(s, dir), Tables.embeddings(s, dir)),
      graft.operators.KMeans.domainMixtureOracleSql()),
    // Model selection: exact inertia over a ladder of k.
    spec("kmeans_elbow", (s, dir) =>
      graft.operators.KMeans.elbow(Tables.embeddings(s, dir)),
      graft.operators.KMeans.elbowOracleSql()),
    // Cluster quality: per-cluster scatter vs nearest-centroid distance.
    spec("kmeans_separation", (s, dir) =>
      graft.operators.KMeans.separation(Tables.embeddings(s, dir)),
      graft.operators.KMeans.separationOracleSql()),
    // Domain discovery from RAW TEXT — no external embeddings: hashing-
    // trick token-count vectors (exact integers, power-of-two buckets)
    // through the same exact-arithmetic fit, profiled by majority source.
    spec("text_kmeans_domains", (s, dir) =>
      graft.operators.KMeans.textDomains(Tables.documents(s, dir)),
      graft.operators.KMeans.textDomainsOracleSql()),
    // Trained quality classifier (fastText-style curation filter): hashed
    // unigram+bigram features, hard-sigmoid logistic GD in exact fixed
    // point, weak labels = FNV parity of the source. Train emits the
    // final weight table; the oracle replays the ENTIRE training run as
    // a generated CTE chain (features, margins, gradients, updates).
    spec("quality_classifier_train", (s, dir) =>
      graft.operators.QualityClassifier.trainedWeights(Tables.documents(s, dir)),
      graft.operators.QualityClassifier.trainOracleSql()),
    // Map-only inference of the trained model + per-source confusion
    // rollup (docs, weak-label positives, predicted positives, agreement)
    // — the "did the filter learn the gate" audit before trusting it.
    spec("quality_classifier_score", (s, dir) =>
      graft.operators.QualityClassifier.scoreConfusion(Tables.documents(s, dir)),
      graft.operators.QualityClassifier.confusionOracleSql()),
    // The trained gate ACTUATING the budget loop: classifier-admitted docs
    // (pred = 1 at the prior threshold) feed the exact water-filling
    // mixture solve — the curate-with-a-LEARNED-gate-then-budget
    // composition (curated_mixture_alloc's heuristic gate swapped for the
    // trained one). Oracle chains the full training-run replay into the
    // mixture solve over the gated relation.
    // Multi-class domain classifier (one-vs-rest, K=4 heads trained
    // JOINTLY — one margin map + one 65-key shuffle per GD round for all
    // heads): the routing stage of a curation pipeline, distilling a
    // token-group teacher. Oracle replays the whole K-head training run
    // as a CTE chain with a head dimension.
    spec("domain_classifier_train", (s, dir) =>
      graft.operators.DomainClassifier.trainedWeights(Tables.documents(s, dir)),
      graft.operators.DomainClassifier.trainOracleSql()),
    // K×K confusion at the prior-adjusted argmax decision (raw-margin
    // argmax reads the K intercepts and collapses to the majority class;
    // zero-support heads are never predicted).
    spec("domain_classifier_confusion", (s, dir) =>
      graft.operators.DomainClassifier.confusion(Tables.documents(s, dir)),
      graft.operators.DomainClassifier.confusionOracleSql()),
    // Per-head one-vs-rest AUC (tie-corrected, exact micros) — the
    // threshold-free multi-class ranking audit beside the K×K confusion.
    spec("domain_classifier_auc", (s, dir) =>
      graft.operators.DomainClassifier.headAuc(Tables.documents(s, dir)),
      graft.operators.DomainClassifier.headAucOracleSql()),
    spec("classifier_gated_mixture", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val gated = docs.join(
        graft.operators.QualityClassifier.scoreDocs(docs)
          .filter(col("pred") === 1).select(col("doc_id")),
        Seq("doc_id"))
      graft.operators.Mixture.optimalMixture(gated, budgetPpm = 800000L)
    },
      SketchOracles.optimalMixtureSql(
        budgetPpm = 800000L,
        docsRel = "qcgated",
        prefixCtes = graft.operators.QualityClassifier.predCtes() + """,
qcgated AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d JOIN qpred q USING (doc_id) WHERE q.pred = 1),
""")),
    // LEARNED routing feeding the budget solve: each doc's classifier-
    // predicted domain becomes the allocation grouping ('dom<k>' replaces
    // the provenance source), and the exact water-filling solve budgets
    // across the four predicted domains. Oracle chains the K-head
    // training + argmax replay into the mixture CTEs over the routed
    // relation.
    spec("domain_routed_mixture", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val routed = docs.join(
        graft.operators.DomainClassifier.predictions(docs)
          .select(col("doc_id"), col("pred")), Seq("doc_id"))
        .select(concat(lit("dom"), col("pred").cast("string")).as("source"),
          col("text"))
      graft.operators.Mixture.optimalMixture(routed, budgetPpm = 700000L)
    },
      SketchOracles.optimalMixtureSql(
        budgetPpm = 700000L,
        docsRel = "dcrouted",
        prefixCtes = graft.operators.DomainClassifier.predCtes() + """,
dcrouted AS (
  SELECT 'dom' || CAST(p.pred AS VARCHAR) AS source, d.text
  FROM documents d JOIN dcpred p USING (doc_id)),
""")),
    // Threshold-free ranking audit of the trained gate: tie-corrected
    // Mann-Whitney AUC of σ̃ vs the weak-label teacher (doubled average
    // ranks over the bounded distinct-σ̃ histogram — exact micros).
    spec("quality_classifier_auc", (s, dir) =>
      graft.operators.ClassifierEval.classifierAuc(Tables.documents(s, dir)),
      graft.operators.ClassifierEval.classifierAucOracleSql),
    // Reliability table of the trained quality gate: equal-population σ̃
    // bins × exact (teacher, prediction) counts — the calibration audit
    // read before trusting the gate's threshold. Oracle chains the FULL
    // training replay into the same rank/bin arithmetic.
    spec("quality_classifier_calibration", (s, dir) =>
      graft.operators.QualityClassifier.calibration(Tables.documents(s, dir)),
      graft.operators.QualityClassifier.calibrationOracleSql()),
    // Distribution-matched resampling: the pool corpus reshaped to the
    // reference source's length-bucket histogram — Hamilton-apportioned
    // per-bucket quotas filled by content-keyed rank (full machine-
    // generated oracle, SketchOracles.distMatchedSql).
    spec("dist_matched_sample", (s, dir) =>
      graft.operators.Mixture.distMatchedSample(Tables.documents(s, dir)),
      SketchOracles.distMatchedSql()),
    // The token-mass matcher: quotas are Hamilton shares of the
    // reference's per-bucket TOKEN masses, admission is the
    // fill-until-reached running-sum gate; the cumsum rides the
    // distributed prefix-sum (range partition + offsets), never an
    // 8-task per-bucket window.
    spec("dist_matched_token_sample", (s, dir) =>
      graft.operators.Mixture.distMatchedTokenSample(Tables.documents(s, dir)),
      SketchOracles.distMatchedTokenSql()),
    // The matched sample packed into training batches (HRW shards +
    // bin spans) — the distribution-matched twin of mixture_train_manifest;
    // one oracle chains the quota/rank replay into the packing replay.
    spec("dist_matched_manifest", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Pack.trainingBatchManifest(
        docs.join(graft.operators.Mixture.distMatchedSample(docs)
          .select(col("doc_id")), Seq("doc_id")))
    },
      SketchOracles.distMatchedManifestSql()),
    // Format-agnostic ingestion: events round-tripped through ORC (write
    // then read back — int64/string/double/µs-timestamp all survive) and
    // aggregated; the oracle aggregates the ORIGINAL parquet, so any
    // conversion loss hash-mismatches.
    spec("orc_roundtrip_agg", (s, dir) => {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"),
        f"graft_orc_rt_${dir.hashCode & 0x7fffffff}%08x").getAbsolutePath
      graft.sources.Sources.eventsOrcRoundTrip(Tables.events(s, dir), out)
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("total_value"),
          min(col("ts")).as("min_ts"),
          max(col("ts")).as("max_ts"),
          sum(length(col("props"))).as("props_chars"))
        .orderBy(col("event_type"))
    },
      // The ORACLE aggregates the ORIGINAL parquet — the engine's answer
      // went through a full ORC write/read first.
      """SELECT event_type,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 2) AS total_value,
        |  min(ts) AS min_ts,
        |  max(ts) AS max_ts,
        |  CAST(sum(length(props)) AS BIGINT) AS props_chars
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Continual ingest: arrivals (vec_id >= 250, the incremental_dedup
    // convention) assigned to the standing model, centroids advanced by
    // exact sufficient-statistics merge; emits per-cluster membership,
    // checksums before/after, and L1 centroid drift.
    spec("kmeans_incremental", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.KMeans.incrementalUpdate(
        e.filter(col("vec_id") < 250), e.filter(col("vec_id") >= 250))
    },
      graft.operators.KMeans.incrementalUpdateOracleSql()),
    // Business-day (weekend-excluded) shipping SLA per priority.
    spec("shipping_business_sla", (s, dir) =>
      Analytics.shippingBusinessSla(Tables.lineitem(s, dir), Tables.orders(s, dir)),
      // The same closed-form business-day prefix count B(d) (epoch day 0 =
      // Thursday; g walks Thu,Fri,Sat,Sun,Mon,Tue) — no dayofweek(), whose
      // numbering differs across engines.
      """WITH j AS (
        |  SELECT o_orderpriority,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS ds,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS od
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |b AS (
        |  SELECT o_orderpriority,
        |    ((ds // 7) * 5 + ([0,1,2,2,2,3,4])[ds % 7 + 1])
        |    - ((od // 7) * 5 + ([0,1,2,2,2,3,4])[od % 7 + 1]) AS bus_delay
        |  FROM j)
        |SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(bus_delay) * 1000000 // count(*) AS BIGINT)
        |    AS avg_delay_micro,
        |  CAST(max(bus_delay) AS BIGINT) AS max_delay,
        |  CAST(sum(CASE WHEN bus_delay <= 5 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS within_sla_ppm
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    // Exact cross-source vocabulary Jaccard matrix (mixture diagnostics).
    spec("source_vocab_overlap", (s, dir) =>
      TextAnalysis.sourceVocabOverlap(Tables.documents(s, dir)),
      """WITH st AS (
        |  SELECT DISTINCT source,
        |    unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |sz AS (SELECT source, count(*) AS n FROM st GROUP BY 1),
        |iv AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_common
        |  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_common,
        |  CAST(sa.n AS BIGINT) AS vocab_a, CAST(sb.n AS BIGINT) AS vocab_b,
        |  CAST(sa.n + sb.n - n_common AS BIGINT) AS vocab_union,
        |  CAST(n_common * 1000000 // (sa.n + sb.n - n_common) AS BIGINT)
        |    AS jaccard_ppm
        |FROM iv
        |JOIN sz sa ON source_a = sa.source
        |JOIN sz sb ON source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin),
    // Bounded-hop BFS distance from seed docs over the shared-span graph.
    spec("doc_seed_distance", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Centrality.docSeedDistance(docs, docs.filter(col("doc_id") < 10))
    },
      // Same string-shingle edges; a depth-capped recursive BFS collects
      // (node, depth) pairs, min per node, -1 past the hop budget. The
      // _sql variant runs the SAME semantics through Spark's recursive-CTE
      // parser path, so one oracle serves both.
      seedDistanceOracleSql),
    // The SAME BFS through the SQL PARSER as a Spark 4 recursive CTE.
    // Two r8 scale fixes, mirroring the iterative operator's discipline:
    // (1) the shared-shingle edge graph is built once and MATERIALIZED
    //     (localCheckpoint) before the recursion — as an inline CTE the
    //     UNION-ALL recursion re-planned and re-executed the whole
    //     shingle-explode + self-join per level (the dominant cost of
    //     the r8 24x regression);
    // (2) the recursive term dedups each level with SELECT DISTINCT, so
    //     the iteration carries FRONTIER SETS (<= |V| rows per level, 4
    //     levels) rather than raw walks (seeds * deg^hops — exponential
    //     on shingle-dense corpora). Vertices may recur across levels
    //     (UNION ALL cannot see the accumulated set); the final
    //     min-group collapses them. The iterative operator above stays
    //     the corpus-scale production path. Shares that query's oracle.
    spec("doc_seed_distance_sql", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("graft_q_documents")
      s.sql(
        """WITH tk AS (
          |  SELECT doc_id, split(text, ' ') AS toks FROM graft_q_documents),
          |sh AS (
          |  -- hashed 8-gram keys: the shuffles below move 8-byte longs,
          |  -- never the shingle strings (same discipline as the
          |  -- iterative operator's hashedShingleDf)
          |  SELECT doc_id, explode(array_distinct(transform(
          |    CASE WHEN size(toks) >= 8 THEN sequence(1, size(toks) - 7)
          |         ELSE array() END,
          |    i -> xxhash64(concat_ws(' ',
          |      element_at(toks, i), element_at(toks, i+1),
          |      element_at(toks, i+2), element_at(toks, i+3),
          |      element_at(toks, i+4), element_at(toks, i+5),
          |      element_at(toks, i+6), element_at(toks, i+7)))))) AS shingle
          |  FROM tk),
          |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
          |shf AS (SELECT s.doc_id, s.shingle FROM sh s JOIN df USING (shingle)
          |        WHERE df BETWEEN 2 AND 50),
          |pr AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          |       FROM shf a JOIN shf b
          |         ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
          |SELECT src, dst FROM pr
          |UNION ALL SELECT dst AS src, src AS dst FROM pr""".stripMargin)
        .localCheckpoint() // eager: the graph is built exactly once
        .createOrReplaceTempView("graft_q_edges")
      s.sql(
        """WITH RECURSIVE walks(v, d) AS (
          |  SELECT doc_id AS v, 0 AS d FROM graft_q_documents WHERE doc_id < 10
          |  UNION ALL
          |  SELECT DISTINCT e.dst, walks.d + 1
          |  FROM walks JOIN graft_q_edges e ON e.src = walks.v
          |  WHERE walks.d < 3),
          |md AS (SELECT v, min(d) AS distance FROM walks GROUP BY v)
          |SELECT doc.doc_id,
          |  CAST(COALESCE(md.distance, -1) AS BIGINT) AS distance
          |FROM graft_q_documents doc LEFT JOIN md ON doc.doc_id = md.v
          |ORDER BY doc.doc_id""".stripMargin)
    },
      seedDistanceOracleSql),
    // HLL register MERGE: hourly sketches rolled up to daily estimates
    // (groupBy-max on register rows — the mergeability the row-based
    // sketch exists for), beside exact daily distincts.
    spec("daily_agg_approx_merged", (s, dir) => {
      val ev = Tables.events(s, dir)
      val hourly = ev
        .withColumn("day", to_date(col("ts")))
        .withColumn("window_start", date_trunc("hour", col("ts")))
      val regs = graft.operators.Hll.registers(
        hourly, Seq("day", "window_start", "event_type"), "user_id")
      val merged = graft.operators.Hll.mergeAndEstimate(
        regs, Seq("day", "event_type"))
      val exact = ev
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("users_exact"))
      merged.join(exact, Seq("day", "event_type"))
        .select(col("day"), col("event_type"), col("users_exact"),
          col("approx_users"))
        .orderBy(col("day"), col("event_type"))
    },
      // Direct-daily HLL fold — oracle-valid for the hourly-register merge
      // because max(rho) is associative (see SketchOracles.hllDailySql).
      SketchOracles.hllDailySql),
    // Spark 4 VARIANT over the semi-structured props column: parse once,
    // typed variant_get extraction, grouped aggregates.
    spec("props_variant_agg", (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("graft_q_events")
      s.sql(
        """SELECT event_type, count(*) AS n_events,
          |  CAST(sum(variant_get(parse_json(props), '$.k', 'long')) AS BIGINT)
          |    AS k_sum,
          |  CAST(min(variant_get(parse_json(props), '$.k', 'long')) AS BIGINT)
          |    AS k_min,
          |  CAST(max(variant_get(parse_json(props), '$.k', 'long')) AS BIGINT)
          |    AS k_max,
          |  CAST(count(DISTINCT variant_get(parse_json(props), '$.k', 'long'))
          |    AS BIGINT) AS k_distinct
          |FROM graft_q_events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)
    },
      // DuckDB replays the VARIANT extraction with its JSON operators.
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
        |  CAST(min(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_max,
        |  CAST(count(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
        |    AS k_distinct
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ---- retrieval + collocations ---------------------------------------

    // Okapi BM25 top-k: one stats pass (1-row broadcast) + one stateless
    // scoring scan, tf per term via array_remove (no explode, no postings
    // shuffle), top-k via TakeOrderedAndProject.
    spec("bm25_top_docs", (s, dir) =>
      TextAnalysis.bm25TopDocs(Tables.documents(s, dir)),
      // BM25 replayed literally. Float literals are CAST(... AS DOUBLE)
      // compositions mirroring the Scala runtime arithmetic exactly
      // (DuckDB parses bare 1.2 as DECIMAL; and (1.2::DOUBLE + 1.0) is the
      // value Scala's k1 + 1.0 computes, which is NOT bitwise the literal
      // 2.2 — the sum lands on a round-to-even halfway case).
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'dup'))
        |      AS BIGINT) AS tf0,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'key'))
        |      AS BIGINT) AS tf1,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'fast'))
        |      AS BIGINT) AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
        |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
        |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
        |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        |  FROM d),
        |scored AS (
        |  SELECT doc_id, dl,
        |    ln(CAST(1.0 AS DOUBLE) + (n_docs - df0 + CAST(0.5 AS DOUBLE))
        |        / (df0 + CAST(0.5 AS DOUBLE)))
        |      * (CAST(tf0 AS DOUBLE)
        |         * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (CAST(tf0 AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |    + ln(CAST(1.0 AS DOUBLE) + (n_docs - df1 + CAST(0.5 AS DOUBLE))
        |        / (df1 + CAST(0.5 AS DOUBLE)))
        |      * (CAST(tf1 AS DOUBLE)
        |         * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (CAST(tf1 AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |    + ln(CAST(1.0 AS DOUBLE) + (n_docs - df2 + CAST(0.5 AS DOUBLE))
        |        / (df2 + CAST(0.5 AS DOUBLE)))
        |      * (CAST(tf2 AS DOUBLE)
        |         * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (CAST(tf2 AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |    AS score_raw,
        |    (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
        |     + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS n_terms_hit
        |  FROM d, stats)
        |SELECT doc_id, dl, n_terms_hit, round(score_raw, 4) AS score
        |FROM (SELECT * FROM scored WHERE score_raw > CAST(0.0 AS DOUBLE)
        |      ORDER BY score_raw DESC, doc_id LIMIT 20) topk
        |ORDER BY score DESC, doc_id""".stripMargin),
    // Conjunctive boolean retrieval: pure scan+filter, zero shuffle.
    spec("boolean_retrieval", (s, dir) =>
      TextAnalysis.booleanRetrieval(Tables.documents(s, dir)),
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'dup'))
        |      AS BIGINT) AS tf_dup,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'key'))
        |      AS BIGINT) AS tf_key,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'fast'))
        |      AS BIGINT) AS tf_fast
        |  FROM documents)
        |SELECT doc_id, dl, tf_dup, tf_key, tf_fast FROM d
        |WHERE tf_dup > 0 AND tf_key > 0 AND tf_fast > 0
        |ORDER BY doc_id""".stripMargin),
    // PMI collocations: one bigram explode into a vocab²-bounded count,
    // marginals as windows over the counted frame, T broadcast.
    spec("collocations_pmi", (s, dir) =>
      TextAnalysis.collocationsPmi(Tables.documents(s, dir)),
      // PMI over adjacent pairs: marginals are windows over the counted
      // (w1,w2) frame — counts include the sub-floor tail (the filter
      // applies after the marginal windows, matching the engine).
      """WITH bi AS (
        |  SELECT
        |    unnest(list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i])) AS w1,
        |    unnest(list_transform(range(1, len(string_split(text, ' '))),
        |      i -> string_split(text, ' ')[i+1])) AS w2
        |  FROM documents),
        |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |       FROM bi GROUP BY 1, 2),
        |m AS (SELECT w1, w2, c12,
        |    CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
        |    CAST(sum(c12) OVER (PARTITION BY w2) AS BIGINT) AS c2
        |  FROM pc),
        |t AS (SELECT CAST(sum(c12) AS BIGINT) AS t_total FROM pc),
        |s AS (SELECT w1, w2, c12, c1, c2,
        |    ln(CAST(c12 AS DOUBLE) * CAST(t_total AS DOUBLE)
        |       / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) AS pmi_raw
        |  FROM m, t WHERE c12 >= 5)
        |SELECT w1, w2, c12, c1, c2, round(pmi_raw, 4) AS pmi
        |FROM (SELECT * FROM s ORDER BY pmi_raw DESC, w1, w2 LIMIT 30) topk
        |ORDER BY pmi DESC, w1, w2""".stripMargin),
    // Spark 4 LATERAL correlated subquery with per-row ORDER BY + LIMIT:
    // the SQL-parser-path spelling of top-k-per-group (the DataFrame
    // equivalent is a rank window; Catalyst decorrelates the lateral into
    // a WindowGroupLimit-style plan rather than per-row re-execution).
    // DuckDB runs the same dialect, so one statement serves both engines.
    spec("lateral_topk_sql", (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("graft_q_nation")
      Tables.customer(s, dir).createOrReplaceTempView("graft_q_customer")
      s.sql(
        """SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
          |FROM graft_q_nation n,
          |LATERAL (SELECT c_custkey, c_name, c_acctbal
          |         FROM graft_q_customer c
          |         WHERE c.c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
          |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin)
    },
      // Same LATERAL dialect runs verbatim on DuckDB (view names aside).
      """SELECT n.n_name, t.c_custkey, t.c_name, t.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_custkey, c_name, c_acctbal
        |         FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""".stripMargin),
    // Market-basket co-purchase pairs + lift: per-order baskets, in-row
    // pair expansion (bounded by lines/order), no corpus self-join.
    spec("copurchase_pairs", (s, dir) =>
      Analytics.copurchasePairs(Tables.lineitem(s, dir)),
      // Baskets as DISTINCT (orderkey, partkey); the self-join spelling is
      // the oracle's simplest equivalent of the engine's in-row expansion.
      """WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |pc AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_ok FROM po GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM po),
        |pairs AS (SELECT a.pk AS part_a, b.pk AS part_b,
        |            CAST(count(*) AS BIGINT) AS support
        |          FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk
        |          GROUP BY 1, 2),
        |s AS (SELECT part_a, part_b, support, ca.n_ok AS n_a, cb.n_ok AS n_b,
        |        CAST(support AS DOUBLE) * CAST(n_orders AS DOUBLE)
        |          / (CAST(ca.n_ok AS DOUBLE) * CAST(cb.n_ok AS DOUBLE))
        |          AS lift_raw
        |      FROM pairs JOIN pc ca ON part_a = ca.pk
        |                 JOIN pc cb ON part_b = cb.pk, n
        |      WHERE support >= 2)
        |SELECT part_a, part_b, support, n_a, n_b, round(lift_raw, 4) AS lift
        |FROM (SELECT * FROM s ORDER BY support DESC, part_a, part_b LIMIT 50) t
        |ORDER BY support DESC, part_a, part_b""".stripMargin),
    // Chi-square independence audit of source x lang (drift/association
    // check): cell counts one scan, marginals as windows over the
    // category-bounded cell frame.
    spec("chi_square_source_lang", (s, dir) =>
      DataQuality.chiSquareIndependence(Tables.documents(s, dir), "source", "lang"),
      """WITH cells AS (
        |  SELECT source AS a, lang AS b, CAST(count(*) AS BIGINT) AS observed
        |  FROM documents GROUP BY 1, 2),
        |m AS (SELECT a, b, observed,
        |    CAST(sum(observed) OVER (PARTITION BY a) AS BIGINT) AS row_tot,
        |    CAST(sum(observed) OVER (PARTITION BY b) AS BIGINT) AS col_tot
        |  FROM cells),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM cells),
        |e AS (SELECT a, b, observed, row_tot, col_tot,
        |    CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
        |      / CAST(n_total AS DOUBLE) AS expected_raw
        |  FROM m, n)
        |SELECT a, b, observed, row_tot, col_tot,
        |  round(expected_raw, 4) AS expected,
        |  round((CAST(observed AS DOUBLE) - expected_raw)
        |        * (CAST(observed AS DOUBLE) - expected_raw)
        |        / expected_raw, 4) AS chi2_contrib
        |FROM e ORDER BY a, b""".stripMargin),
    // Per-source token-distribution Shannon entropy (mixture diversity).
    spec("source_token_entropy", (s, dir) =>
      TextAnalysis.sourceTokenEntropy(Tables.documents(s, dir)),
      // The c*ln(c) fold is an order-dependent double sum on both engines
      // (~1e-13 relative); the 4-decimal rounding grid absorbs it.
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |counts AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |           FROM toks GROUP BY 1, 2),
        |agg AS (SELECT source,
        |    CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab_size,
        |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
        |  FROM counts GROUP BY 1),
        |e AS (SELECT source, n_tokens, vocab_size,
        |    ln(CAST(n_tokens AS DOUBLE)) - clogc / CAST(n_tokens AS DOUBLE)
        |      AS entropy_raw
        |  FROM agg)
        |SELECT source, n_tokens, vocab_size,
        |  round(entropy_raw, 4) AS entropy,
        |  CASE WHEN vocab_size > 1
        |    THEN round(entropy_raw / ln(CAST(vocab_size AS DOUBLE)), 4)
        |  END AS entropy_norm
        |FROM e ORDER BY source""".stripMargin),
    // DSIR importance log-weights: hashed-unigram target/raw ln-ratio.
    spec("dsir_weights", (s, dir) =>
      TextAnalysis.dsirWeights(Tables.documents(s, dir)),
      SketchOracles.dsirSql()),
    // Last-touch attribution: merge-formulation as-of carry, no pair join.
    spec("purchase_attribution", (s, dir) =>
      AsOfJoin.lastTouchAttribution(Tables.events(s, dir)),
      // Same union + carry-forward window, replayed with IGNORE NULLS
      // last_value; lookback as interval arithmetic (exact micros).
      """WITH t AS (
        |  SELECT user_id, ts AS t, 0 AS side, event_type AS touch_type,
        |         ts AS touch_ts, event_id, CAST(NULL AS DOUBLE) AS value
        |  FROM events WHERE event_type IN ('click', 'view')),
        |p AS (
        |  SELECT user_id, ts AS t, 1 AS side, CAST(NULL AS VARCHAR) AS touch_type,
        |         CAST(NULL AS TIMESTAMP) AS touch_ts, event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT * FROM t UNION ALL SELECT * FROM p),
        |w AS (SELECT user_id, t, side, value,
        |        last_value(touch_type IGNORE NULLS) OVER win AS lt_type,
        |        last_value(touch_ts IGNORE NULLS) OVER win AS lt_ts
        |      FROM u
        |      WINDOW win AS (PARTITION BY user_id ORDER BY t, side, event_id
        |                     ROWS UNBOUNDED PRECEDING)),
        |a AS (SELECT CASE WHEN lt_ts IS NOT NULL AND lt_ts >= t - INTERVAL 1 HOUR
        |               THEN lt_type ELSE 'none' END AS attributed_to, value
        |      FROM w WHERE side = 1)
        |SELECT attributed_to, count(*) AS n_purchases,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),
    // Batch BM25: many queries in one pass over query-pruned postings.
    spec("bm25_batch_topk", (s, dir) =>
      TextAnalysis.bm25BatchTopK(Tables.documents(s, dir)),
      // Queries as VALUES; postings pruned to the query vocabulary before
      // any aggregation, mirroring the engine's semi-join.
      """WITH q(query_id, term) AS (VALUES
        |  (1, 'dup'), (1, 'key'),
        |  (2, 'fast'), (2, 'merge'), (2, 'join'),
        |  (3, 'spark')),
        |qv AS (SELECT DISTINCT term FROM q),
        |toks AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |p AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |      FROM toks JOIN qv USING (term) GROUP BY 1, 2, 3),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |sc AS (
        |  SELECT q.query_id, p.doc_id, p.dl,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(
        |      ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE))
        |          / (df + CAST(0.5 AS DOUBLE)))
        |      * (CAST(tf AS DOUBLE)
        |         * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |      ORDER BY p.term)), (acc, x) -> acc + x) AS score_raw,
        |    CAST(count(*) AS INTEGER) AS n_terms_hit
        |  FROM p JOIN q USING (term) JOIN dfc USING (term), stats
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT query_id, doc_id, dl, n_terms_hit, score_raw,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY score_raw DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, dl,
        |  n_terms_hit, round(score_raw, 4) AS score
        |FROM r WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin),
    // A-ES weighted reservoir: exact-k token-mass sample, map-only + top-k.
    spec("weighted_reservoir", (s, dir) =>
      graft.operators.Mixture.weightedReservoir(Tables.documents(s, dir)),
      SketchOracles.weightedReservoirSql()),
    // Feature-store point-in-time join: as-of carry of cumulative
    // order-history features into purchase events (no future leakage).
    spec("pit_features", (s, dir) =>
      AsOfJoin.pointInTimeFeatures(Tables.events(s, dir), Tables.orders(s, dir)),
      // DuckDB ASOF LEFT JOIN as the independent formulation of the same
      // inclusive point-in-time lookup; zeros (not drops) for no-history.
      """WITH cum0 AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey,
        |    count(*) OVER w AS n_orders_cum,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      OVER w AS BIGINT) AS spend_cents_cum,
        |    row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |                       ORDER BY o_orderkey DESC) AS rn
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS UNBOUNDED PRECEDING)),
        |cum AS (SELECT o_custkey, o_orderdate,
        |          CAST(n_orders_cum AS BIGINT) AS n_orders_cum, spend_cents_cum
        |        FROM cum0 WHERE rn = 1),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |  CAST(COALESCE(c.n_orders_cum, 0) AS BIGINT) AS n_orders_pit,
        |  CAST(COALESCE(c.spend_cents_cum, 0) AS BIGINT) AS spend_cents_pit
        |FROM p ASOF LEFT JOIN cum c
        |  ON p.user_id = c.o_custkey AND c.o_orderdate <= p.ts
        |ORDER BY event_id""".stripMargin),
    // Deterministic contrastive negative sampling (hash draw, id-dense).
    spec("negative_samples", (s, dir) =>
      graft.operators.Mixture.negativeSamples(Tables.documents(s, dir)),
      SketchOracles.negativeSamplesSql()),

    // ---- table evolution (SCD2 / CDC diff / incremental maintenance) ----

    // SCD Type-2 reconstruction: islands-and-gaps in ONE custkey shuffle.
    spec("scd2_history", (s, dir) =>
      graft.operators.Evolution.scd2History(Tables.orders(s, dir)),
      // Islands-and-gaps SCD2: lag-compare -> running change-flag sum = run
      // id, runs grouped, valid_to as the next run's valid_from.
      """WITH base AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
        |    CASE WHEN lag(o_orderpriority) OVER w IS NULL
        |           OR lag(o_orderpriority) OVER w <> o_orderpriority
        |         THEN 1 ELSE 0 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |runs0 AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS version
        |  FROM base),
        |runs AS (
        |  SELECT o_custkey, CAST(version AS BIGINT) AS version,
        |    o_orderpriority AS status,
        |    min(o_orderdate) AS valid_from,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM runs0 GROUP BY 1, 2, 3)
        |SELECT o_custkey, version, status, valid_from,
        |  lead(valid_from) OVER v AS valid_to,
        |  (lead(valid_from) OVER v IS NULL) AS is_current,
        |  n_orders
        |FROM runs
        |WINDOW v AS (PARTITION BY o_custkey ORDER BY version)
        |ORDER BY o_custkey, version""".stripMargin),
    // Snapshot CDC diff: both as-of states from ONE indicator scan.
    spec("snapshot_diff", (s, dir) =>
      graft.operators.Evolution.snapshotDiff(Tables.orders(s, dir),
        t1 = "1999-01-01 00:00:00", t2 = "2000-01-01 00:00:00"),
      // Both as-of snapshots from one indicator scan of the < t2 slice;
      // exact cents; 'unchanged' filtered after classification.
      """WITH s AS (
        |  SELECT o_custkey,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |    CAST(count(*) AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |          THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |          ELSE 0 END) AS BIGINT) AS spend_old_cents,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS spend_new_cents
        |  FROM orders
        |  WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |  GROUP BY 1),
        |c AS (
        |  SELECT *, CASE WHEN n_old = 0 THEN 'added'
        |                 WHEN n_new = n_old THEN 'unchanged'
        |                 ELSE 'changed' END AS change_type
        |  FROM s)
        |SELECT o_custkey, change_type, n_old, n_new,
        |  n_new - n_old AS delta_orders,
        |  spend_old_cents, spend_new_cents,
        |  spend_new_cents - spend_old_cents AS delta_spend_cents
        |FROM c WHERE change_type <> 'unchanged'
        |ORDER BY o_custkey""".stripMargin),
    // Partial-aggregate merge == full recompute (the IVM contract); the
    // split lands mid-hour so boundary windows exercise the merge.
    spec("incremental_agg_merge", (s, dir) =>
      graft.operators.Evolution.incrementalMerge(Tables.events(s, dir),
        splitTs = "2024-01-16 12:30:00"),
      // The IVM correctness statement: the oracle is the FULL recompute —
      // merged partials must equal it bit-for-bit.
      """WITH g AS (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS sum_cents,
        |    CAST(min(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS min_cents,
        |    CAST(max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS max_cents
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, event_type, n, sum_cents, min_cents, max_cents,
        |  CAST(sum_cents AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS avg_value
        |FROM g ORDER BY window_start, event_type""".stripMargin),

    // ---- distribution drift + mixture temperature ----

    // Source-vs-rest two-sample KS over the domain-bounded value grid.
    spec("ks_drift", (s, dir) =>
      graft.operators.Drift.ksDrift(Tables.documents(s, dir)),
      // Source-vs-rest KS: CDFs over the distinct-value grid; every double
      // derives from exact cumulative longs by the same expression tree.
      """WITH counts AS (
        |  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |totals AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_source
        |  FROM documents GROUP BY 1),
        |grand AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
        |grid AS (SELECT x, sum(c) AS g FROM counts GROUP BY 1),
        |gcum AS (
        |  SELECT x, CAST(sum(g) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_g
        |  FROM grid),
        |crossed AS (
        |  SELECT t.source, t.n_source, gc.x, gc.cum_g,
        |    CAST(sum(COALESCE(c.c, 0)) OVER (PARTITION BY t.source
        |      ORDER BY gc.x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s
        |  FROM gcum gc CROSS JOIN totals t
        |  LEFT JOIN counts c ON c.source = t.source AND c.x = gc.x),
        |diffs AS (
        |  SELECT cr.source, cr.n_source,
        |    g.n_total - cr.n_source AS n_rest,
        |    abs(CAST(cr.cum_s AS DOUBLE) / CAST(cr.n_source AS DOUBLE)
        |      - CAST(cr.cum_g - cr.cum_s AS DOUBLE)
        |        / CAST(g.n_total - cr.n_source AS DOUBLE)) AS diff
        |  FROM crossed cr CROSS JOIN grand g),
        |d AS (
        |  SELECT source, n_source, n_rest, max(diff) AS d_raw
        |  FROM diffs GROUP BY 1, 2, 3)
        |SELECT source, n_source, n_rest,
        |  d_raw AS ks_d,
        |  round(sqrt(CAST(n_source AS DOUBLE) * CAST(n_rest AS DOUBLE)
        |    / CAST(n_source + n_rest AS DOUBLE)) * d_raw, 4) AS ks_stat
        |FROM d ORDER BY source""".stripMargin),
    // Binned PSI between month halves (baseline-range bins, edge clamp).
    spec("psi_drift", (s, dir) =>
      graft.operators.Drift.psiDrift(Tables.events(s, dir),
        splitTs = "2024-01-16 00:00:00"),
      // Baseline-range equal-width bins with edge clamp; ε-floored
      // proportions; psi_cum as a SEQUENTIAL bin-order fold (engine-agnostic
      // double summation).
      """WITH rng AS (
        |  SELECT min(value) AS bmin, max(value) AS bmax
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |b AS (
        |  SELECT least(9, greatest(0, CAST(floor(
        |      (value - bmin) / (bmax - bmin) * 10) AS INTEGER))) AS bin,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END
        |      AS is_base
        |  FROM events CROSS JOIN rng),
        |g AS (
        |  SELECT bin, CAST(sum(is_base) AS BIGINT) AS n_base,
        |    CAST(sum(1 - is_base) AS BIGINT) AS n_cur
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT bin, n_base, n_cur,
        |    CAST(sum(n_base) OVER () AS BIGINT) AS tot_base,
        |    CAST(sum(n_cur) OVER () AS BIGINT) AS tot_cur
        |  FROM g),
        |p AS (
        |  SELECT bin, n_base, n_cur,
        |    greatest(CAST(n_base AS DOUBLE) / CAST(tot_base AS DOUBLE), 1e-6)
        |      AS p_raw,
        |    greatest(CAST(n_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE), 1e-6)
        |      AS q_raw
        |  FROM t),
        |x AS (
        |  SELECT bin, n_base, n_cur, p_raw, q_raw,
        |    (p_raw - q_raw) * ln(p_raw / q_raw) AS term
        |  FROM p)
        |SELECT bin, n_base, n_cur,
        |  p_raw AS p_base, q_raw AS p_cur,
        |  round(term, 4) AS psi_term,
        |  round(sum(term) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING), 4)
        |    AS psi_cum
        |FROM x ORDER BY bin""".stripMargin),
    // α-temperature source reweighting (α=0.3, 1M-token budget).
    spec("temperature_mixture", (s, dir) =>
      graft.operators.Drift.temperatureMixture(Tables.documents(s, dir)),
      // α-temperature reweighting: q ∝ p^α normalized by a cumulative-then-
      // max fold (sequential, so the irrational-double sum is order-pinned).
      """WITH m AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |    AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT source, n_tokens,
        |    CAST(sum(n_tokens) OVER () AS BIGINT) AS n_total
        |  FROM m),
        |p AS (
        |  SELECT source, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / CAST(n_total AS DOUBLE) AS p_raw
        |  FROM t),
        |w AS (
        |  SELECT source, n_tokens, p_raw, power(p_raw, 0.3) AS w FROM p),
        |c AS (
        |  SELECT source, n_tokens, p_raw, w,
        |    sum(w) OVER (ORDER BY source ROWS UNBOUNDED PRECEDING) AS w_cum
        |  FROM w),
        |f AS (
        |  SELECT source, n_tokens, p_raw, w, max(w_cum) OVER () AS w_tot
        |  FROM c)
        |SELECT source, n_tokens,
        |  p_raw AS p_natural,
        |  round(w / w_tot, 4) AS p_temperature,
        |  round(w / w_tot * 1000000.0, 1) AS expected_tokens,
        |  round(w / w_tot / p_raw, 4) AS oversample
        |FROM f ORDER BY source""".stripMargin),
    // Record linkage: multi-pass blocking (recall 1.0 by construction)
    // + Fellegi–Sunter scoring over the bounded candidate set.
    spec("entity_matches", (s, dir) =>
      graft.operators.EntityResolution.entityMatches(Tables.customer(s, dir)),
      // Full-pipeline replay (corruption, two blocking passes, FS scoring)
      // generated beside the operator so the log-weight doubles are shared.
      graft.operators.EntityResolution.oracleSql()),
    // k-anonymity/l-diversity audit over QI tuples (one scan).
    spec("k_anonymity", (s, dir) =>
      graft.operators.Privacy.kAnonymityAudit(Tables.customer(s, dir)),
      """SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |  'b1k:' || CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |  CAST(count(*) AS BIGINT) AS k,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
        |  count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin),
    // Fixed-depth full-domain generalization ladder (publish-or-suppress).
    spec("k_anonymize", (s, dir) =>
      graft.operators.Privacy.kAnonymize(Tables.customer(s, dir)),
      // Group-level promotion: level-0 and level-1 group counts joined back
      // by QI key; a record publishes at its finest k-satisfying level.
      """WITH recs AS (
        |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
        |    'b1k:' || CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b0,
        |    'b5k:' || CAST(floor(c_acctbal / 5000.0) AS BIGINT) AS b1
        |  FROM customer),
        |k0 AS (SELECT nation, segment, b0, count(*) AS k0
        |       FROM recs GROUP BY 1, 2, 3),
        |k1 AS (SELECT nation, segment, b1, count(*) AS k1
        |       FROM recs GROUP BY 1, 2, 3),
        |lv AS (
        |  SELECT r.nation, r.segment,
        |    CASE WHEN k0.k0 >= 5 THEN 0 WHEN k1.k1 >= 5 THEN 1
        |         ELSE 2 END AS level,
        |    CASE WHEN k0.k0 >= 5 THEN r.b0 WHEN k1.k1 >= 5 THEN r.b1
        |         ELSE '*' END AS bal_bucket
        |  FROM recs r
        |  JOIN k0 ON k0.nation = r.nation AND k0.segment = r.segment
        |         AND k0.b0 = r.b0
        |  JOIN k1 ON k1.nation = r.nation AND k1.segment = r.segment
        |         AND k1.b1 = r.b1)
        |SELECT nation, segment, bal_bucket, level,
        |  CAST(count(*) AS BIGINT) AS group_size
        |FROM lv GROUP BY 1, 2, 3, 4
        |ORDER BY nation, segment, level, bal_bucket""".stripMargin),
    // Two-sided CUSUM over hourly ingest volumes: sequential clamp fold
    // on the time-domain-bounded count frame (recursive-CTE oracle).
    spec("cusum_changepoints", (s, dir) =>
      graft.operators.Changepoint.cusumChangepoints(Tables.events(s, dir)),
      // Recursive-CTE replay of the sequential CUSUM clamp fold, generated
      // beside the operator so the baseline split stays single-sourced.
      graft.operators.Changepoint.oracleSql()),
    // ANALYZE-style per-column profile (one pass per table, canonical
    // min/max serializations).
    spec("column_stats", (s, dir) =>
      graft.operators.TableStats.columnStats(
        Tables.orders(s, dir), Tables.events(s, dir)),
      // Wide-aggregate-then-unpivot replay, generated beside the operator
      // so the column list and canonical forms are single-sourced.
      graft.operators.TableStats.oracleSql),
    // HLL set algebra: audience union from merged registers, intersection
    // by inclusion–exclusion, exact counts in-row as the self-check.
    spec("hll_set_algebra", (s, dir) =>
      graft.operators.Hll.setAlgebra(Tables.events(s, dir)),
      // Full sketch replay: register build, pair merge, inclusion–exclusion.
      SketchOracles.hllSetAlgebraSql),
    // Greedy longest-match WordPiece: distinct words tokenized once via a
    // codegen'd expression fold, weighted by the word-frequency frame.
    spec("wordpiece_tokens", (s, dir) =>
      TextAnalysis.wordpieceTokenCountsNative(Tables.documents(s, dir)),
      // Recursive-CTE longest-match peel, vocab single-sourced in Scala.
      TextAnalysis.wordpieceOracleSql),
    // The declarative 16-step fold spelling — kept oracled as executable
    // documentation of the algorithm the native expression compresses.
    spec("wordpiece_tokens_decl", (s, dir) =>
      TextAnalysis.wordpieceTokenCounts(Tables.documents(s, dir)),
      TextAnalysis.wordpieceOracleSql),
    // CMS inner-product join-size estimate, exact join rows in-row.
    spec("join_cardinality_est", (s, dir) =>
      graft.operators.TableStats.joinCardinalityEst(
        Tables.orders(s, dir), Tables.events(s, dir)),
      // Double-mix CMS replay; shared seed table with the token sketch.
      SketchOracles.joinCardSql()),
    // Reciprocal-rank fusion of BM25 + coverage rankers (rank-space merge).
    spec("rrf_fusion", (s, dir) =>
      TextAnalysis.rrfFusion(Tables.documents(s, dir)),
      // Same postings/score CTEs as bm25_batch_topk (term-ordered fold),
      // both rank windows, then the rank-space fusion join.
      """WITH q(query_id, term) AS (VALUES
        |  (1, 'dup'), (1, 'key'),
        |  (2, 'fast'), (2, 'merge'), (2, 'join'),
        |  (3, 'spark')),
        |qv AS (SELECT DISTINCT term FROM q),
        |toks AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |p AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |      FROM toks JOIN qv USING (term) GROUP BY 1, 2, 3),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |sc AS (
        |  SELECT q.query_id, p.doc_id, p.dl,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(
        |      ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE))
        |          / (df + CAST(0.5 AS DOUBLE)))
        |      * (CAST(tf AS DOUBLE)
        |         * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |      ORDER BY p.term)), (acc, x) -> acc + x) AS score_raw,
        |    CAST(count(*) AS INTEGER) AS n_terms_hit
        |  FROM p JOIN q USING (term) JOIN dfc USING (term), stats
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT query_id, doc_id, dl, n_terms_hit, score_raw,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY score_raw DESC, doc_id) AS rank_bm25,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY n_terms_hit DESC, dl, doc_id) AS rank_cov
        |      FROM sc),
        |a AS (SELECT query_id, doc_id,
        |        CAST(rank_bm25 AS INTEGER) AS rank_bm25
        |      FROM r WHERE rank_bm25 <= 10),
        |b AS (SELECT query_id, doc_id,
        |        CAST(rank_cov AS INTEGER) AS rank_cov
        |      FROM r WHERE rank_cov <= 10),
        |f AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
        |        COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |        a.rank_bm25, b.rank_cov,
        |        COALESCE(CAST(1.0 AS DOUBLE)
        |            / CAST(60 + a.rank_bm25 AS DOUBLE), CAST(0.0 AS DOUBLE))
        |        + COALESCE(CAST(1.0 AS DOUBLE)
        |            / CAST(60 + b.rank_cov AS DOUBLE), CAST(0.0 AS DOUBLE))
        |          AS rrf
        |      FROM a FULL OUTER JOIN b
        |        ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
        |g AS (SELECT query_id, doc_id, rank_bm25, rank_cov, rrf,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY rrf DESC, doc_id) AS INTEGER) AS fused_rank
        |      FROM f)
        |SELECT query_id, fused_rank, doc_id, rank_bm25, rank_cov,
        |  round(rrf, 6) AS rrf_score
        |FROM g WHERE fused_rank <= 5
        |ORDER BY query_id, fused_rank""".stripMargin),
    // nDCG@10 of the BM25 ranking with coverage as graded relevance.
    spec("ndcg_eval", (s, dir) =>
      TextAnalysis.ndcgEval(Tables.documents(s, dir)),
      // Same bm25 CTEs; DCG/IDCG as cumulative position-order folds (the
      // ln spelling keeps both engines on one expression tree; the base
      // cancels in nDCG anyway).
      """WITH q(query_id, term) AS (VALUES
        |  (1, 'dup'), (1, 'key'),
        |  (2, 'fast'), (2, 'merge'), (2, 'join'),
        |  (3, 'spark')),
        |qv AS (SELECT DISTINCT term FROM q),
        |toks AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |p AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |      FROM toks JOIN qv USING (term) GROUP BY 1, 2, 3),
        |dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
        |  FROM documents),
        |sc AS (
        |  SELECT q.query_id, p.doc_id, p.dl,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(
        |      ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE))
        |          / (df + CAST(0.5 AS DOUBLE)))
        |      * (CAST(tf AS DOUBLE)
        |         * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        |      ORDER BY p.term)), (acc, x) -> acc + x) AS score_raw,
        |    CAST(count(*) AS INTEGER) AS n_terms_hit
        |  FROM p JOIN q USING (term) JOIN dfc USING (term), stats
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT query_id, n_terms_hit,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY score_raw DESC, doc_id) AS rank
        |      FROM sc),
        |t AS (SELECT query_id, CAST(rank AS INTEGER) AS rank, n_terms_hit
        |      FROM r WHERE rank <= 10),
        |ip AS (SELECT query_id, rank, n_terms_hit,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY n_terms_hit DESC, rank) AS INTEGER) AS ipos
        |      FROM t),
        |c AS (SELECT query_id, rank, ipos,
        |        (power(CAST(2.0 AS DOUBLE), CAST(n_terms_hit AS DOUBLE))
        |          - CAST(1.0 AS DOUBLE)) / ln(CAST(rank + 1 AS DOUBLE))
        |          AS dc,
        |        (power(CAST(2.0 AS DOUBLE), CAST(n_terms_hit AS DOUBLE))
        |          - CAST(1.0 AS DOUBLE)) / ln(CAST(ipos + 1 AS DOUBLE))
        |          AS ic
        |      FROM ip),
        |w AS (SELECT query_id,
        |        sum(dc) OVER (PARTITION BY query_id ORDER BY rank
        |          ROWS UNBOUNDED PRECEDING) AS cum_dcg,
        |        sum(ic) OVER (PARTITION BY query_id ORDER BY ipos
        |          ROWS UNBOUNDED PRECEDING) AS cum_idcg
        |      FROM c)
        |SELECT query_id, CAST(count(*) AS BIGINT) AS n_retrieved,
        |  round(max(cum_dcg), 6) AS dcg,
        |  round(max(cum_idcg), 6) AS idcg,
        |  round(max(cum_dcg) / max(cum_idcg), 6) AS ndcg
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),
    // Easy-first, source-interleaved curriculum head (no global window).
    spec("curriculum_order", (s, dir) =>
      graft.operators.Curation.curriculumOrder(Tables.documents(s, dir)),
      """SELECT doc_id, source, n_chars,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id) AS INTEGER) AS phase
        |FROM documents
        |ORDER BY phase, source, doc_id
        |LIMIT 100""".stripMargin),
    // Wald SPRT on conversion rates: exact counter walk, no clamp.
    spec("sprt_ab_test", (s, dir) =>
      graft.operators.Sprt.sprtAbTest(Tables.events(s, dir)),
      // Injected-constant replay (same hazard family as entity_matches).
      graft.operators.Sprt.oracleSql),
    // One-pass Pearson matrix from exact integer moment sums.
    spec("corr_matrix", (s, dir) =>
      graft.operators.TableStats.corrMatrix(Tables.lineitem(s, dir)),
      // HUGEINT moment sums; only the final corr touches floating point.
      graft.operators.TableStats.corrMatrixOracleSql),
    // Moving-average seasonal decomposition (scaled-integer residuals).
    spec("seasonal_decompose", (s, dir) =>
      graft.operators.Changepoint.seasonalDecompose(Tables.events(s, dir)),
      graft.operators.Changepoint.seasonalOracleSql),
    // BPE merge learning: distributed word counts, exact merge loop on
    // the language-bounded vocab frame; oracle recomputes end to end.
    spec("bpe_learn_merges", (s, dir) =>
      graft.operators.BpeTrainer.learnMerges(Tables.documents(s, dir)),
      // Per-stage recursive-CTE merge walks; argmax tie-break in SQL.
      graft.operators.BpeTrainer.oracleSql()),
    // Apply the learned merges distributed (chained folds, encode each
    // distinct word once); fertility/compression per source.
    spec("bpe_encode_stats", (s, dir) =>
      graft.operators.BpeTrainer.encodeStats(Tables.documents(s, dir)),
      // Same chain, final symbolization weighted by per-source counts.
      graft.operators.BpeTrainer.encodeStatsOracleSql()),

    // S2/S3 CSV edge: round-trip events through CSV lines with planted
    // malformed rows (event_id % 89 == 0); permissive from_csv must
    // drop exactly those. Mirrors json_ingest_agg for the other wire
    // format a batch ingest actually sees.
    spec("csv_ingest_agg", (s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("user_id", LongType)))
      val raw = Tables.events(s, dir).select(
        when(col("event_id") % 89 === 0, lit("not_a_long,truncated"))
          .otherwise(concat_ws(",",
            col("event_id"), col("event_type"), col("user_id")))
          .as("value"))
      graft.sources.Sources.parseCsvEvents(raw, schema)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("parsed_count"),
          countDistinct(col("user_id")).as("distinct_users"),
          sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))
    },
      // Ground truth relational — the ENGINE must round-trip CSV and drop
      // exactly the event_id % 89 == 0 malformed lines.
      """SELECT event_type,
        |  count(*) AS parsed_count,
        |  count(DISTINCT user_id) AS distinct_users,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events WHERE event_id % 89 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // k-core of the shared-span graph: synchronous peeling, fixed
    // rounds, convergence flag — template-cluster hubs beyond degree.
    spec("doc_kcore", (s, dir) =>
      graft.operators.Centrality.docKcore(Tables.documents(s, dir)),
      // Unrolled peel rounds over the pagerank oracle's edge CTE.
      graft.operators.Centrality.docKcoreOracleSql()),

    // Exact OLS daily-revenue trend per segment (sign-separated integer
    // micros; r² from identically-derived double casts).
    spec("ols_trend", (s, dir) =>
      graft.operators.TableStats.olsTrend(
        Tables.orders(s, dir), Tables.customer(s, dir)),
      // HUGEINT moment sums; magnitude-division slope/intercept.
      graft.operators.TableStats.olsTrendOracleSql),
    // Group-aware K-fold CV assignment + structural leakage audit.
    spec("cv_folds", (s, dir) =>
      graft.operators.Folds.cvFolds(Tables.events(s, dir)),
      // mix64-fold assignment replayed per distinct user.
      graft.operators.Folds.cvFoldsOracleSql),
    // RFM quintile grid via exact distributed ranks (no global-sort task).
    spec("rfm_segments", (s, dir) =>
      Analytics.rfmSegments(Tables.orders(s, dir)),
      // ntile(5) windows over the per-customer frame.
      Analytics.rfmSegmentsOracleSql),

    // Positional-index phrase search: most-frequent-bigram query
    // evaluated index-only (shifted position-list intersection).
    spec("phrase_search", (s, dir) =>
      TextAnalysis.phraseSearch(Tables.documents(s, dir)),
      // Direct adjacent-pair rescan must equal the index-only evaluation.
      TextAnalysis.phraseSearchOracleSql),

    // JL ±1 random projection (Achlioptas) with the distortion
    // self-check; bit-identical fold chains on both engines.
    spec("embedding_rp", (s, dir) =>
      graft.operators.FeatureEng.rpProject(Tables.embeddings(s, dir)),
      // Same literal sign matrix, same left-assoc fold chain.
      graft.operators.FeatureEng.rpProjectOracleSql),

    // t-closeness EMD audit over the ordered balance-band domain —
    // completes the k-anonymity / l-diversity / t-closeness triad.
    spec("t_closeness", (s, dir) =>
      graft.operators.Privacy.tCloseness(Tables.customer(s, dir)),
      // Exact CDF-difference EMD, denominators cleared into HUGEINT.
      graft.operators.Privacy.tClosenessOracleSql()),

    // Leave-one-out + smoothed target encoding (exact integer micros;
    // category frame broadcast back, fact table never shuffles).
    spec("target_encode", (s, dir) =>
      graft.operators.FeatureEng.targetEncode(Tables.orders(s, dir)),
      // Exact integer-micros encodings; HUGEINT clears the rational mean.
      graft.operators.FeatureEng.targetEncodeOracleSql),
    // One-scan Poisson bootstrap of the mean order price: 32 replicate
    // means from deterministic per-(row, replicate) Poisson(1) weights,
    // CI from order statistics — no row explosion, no reshuffle.
    spec("bootstrap_ci", (s, dir) =>
      graft.operators.FeatureEng.bootstrapCi(Tables.orders(s, dir)),
      // Full bootstrap replay: double mix chain per (key, replicate),
      // shared Poisson(1) threshold literals, order-statistic CI.
      graft.operators.FeatureEng.bootstrapCiOracleSql),

    // KMV order-statistics distinct sketch (bounded mergeable state);
    // exact distinct rides in-row.
    spec("kmv_distinct", (s, dir) =>
      graft.operators.Kmv.kmvDistinct(Tables.events(s, dir)),
      // Full KMV replay: mix64 per distinct user, k-smallest window,
      // integer-micros estimate (HUGEINT //), union-k match counting.
      graft.operators.Kmv.kmvDistinctOracleSql),
    // Sketch-only audience-overlap Jaccard (union-k match counting),
    // exact Jaccard in-row.
    spec("kmv_jaccard", (s, dir) =>
      graft.operators.Kmv.kmvJaccard(Tables.events(s, dir)),
      graft.operators.Kmv.kmvJaccardOracleSql),

    // Directed association rules over order baskets: exact-micros
    // confidence/lift, in-row pair expansion, broadcast marginals.
    spec("assoc_rules", (s, dir) =>
      graft.operators.Association.assocRules(Tables.lineitem(s, dir)),
      // Association mining: baskets as DISTINCT (order, part), `//`
      // integer micros for confidence/lift/cos².
      graft.operators.Association.assocRulesOracleSql()),
    // Per-item top-5 basket-cosine neighbours ranked by the exact
    // integer cos²·10^6 (WindowGroupLimit prunes before any sort).
    spec("item_cosine_topk", (s, dir) =>
      graft.operators.Association.itemCosineTopK(Tables.lineitem(s, dir)),
      graft.operators.Association.itemCosineOracleSql()),
    // CUPED variance-reduced A/B readout: pooled θ from exact decimal
    // moment numerators, adjusted means/variances per variant.
    spec("cuped_adjust", (s, dir) =>
      graft.operators.Experiment.cupedAdjust(Tables.events(s, dir)),
      // CUPED: exact HUGEINT moment numerators, pooled θ, identity-form
      // adjusted variance.
      graft.operators.Experiment.cupedOracleSql()),
    // Split-conformal coverage audit of the tokens-per-char predictor:
    // integer-exact residuals, distributed-rank order statistic.
    spec("conformal_intervals", (s, dir) =>
      graft.operators.Experiment.conformalIntervals(Tables.documents(s, dir)),
      // Split conformal: integer rate fit, order-statistic radius, ppm
      // coverage.
      graft.operators.Experiment.conformalOracleSql()),
    // Mann-Whitney U on purchase values between hash variants: midrank
    // ties via distributed ranks, doubled-rank integers, exact tie term.
    spec("mann_whitney", (s, dir) =>
      graft.operators.Experiment.mannWhitney(Tables.events(s, dir)),
      // Mann-Whitney: window prefix-count n_less, HUGEINT doubled ranks,
      // identical IEEE z spelling.
      graft.operators.Experiment.mannWhitneyOracleSql),
    // Kaplan-Meier churn curve with right-censoring: integer product-limit
    // recurrence at 10^12 scale, recursive-CTE oracle walk.
    spec("km_survival", (s, dir) =>
      graft.operators.Survival.kmSurvival(Tables.orders(s, dir)),
      // Kaplan-Meier: recursive-CTE floor-division survival walk.
      graft.operators.Survival.kmOracleSql()),
    // Difference-in-differences on per-user purchase value: exact
    // dollar-micros cell means, four-term integer estimate.
    spec("diff_in_diff", (s, dir) =>
      graft.operators.Experiment.diffInDiff(Tables.events(s, dir)),
      // DiD: HUGEINT cell sums, micros DIV means, integer estimate.
      graft.operators.Experiment.diffInDiffOracleSql()),
    // Approximate-FD discovery (g3 error): rows-to-delete per candidate
    // dependency across four tables, ppm violation rates.
    spec("fd_violations", (s, dir) =>
      graft.operators.DataQuality.fdViolations(
        Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.events(s, dir), Tables.documents(s, dir)),
      // FD g3: per-pair Σ max_B count(A,B) vs n, UNION ALL across tables.
      graft.operators.DataQuality.fdViolationsOracleSql),
    // Isotonic (PAVA-equivalent) calibration of hourly purchase
    // propensity via the integer minimax closed form on 24 buckets.
    spec("isotonic_calibration", (s, dir) =>
      graft.operators.FeatureEng.isotonicCalibration(Tables.events(s, dir)),
      // Isotonic: identical integer minimax over the 24-bucket frame.
      graft.operators.FeatureEng.isotonicOracleSql),
    // Exact Shapley channel attribution: cleared-|C|! integer credits
    // over the 2^|C| subset lattice (channel catalog bounded).
    spec("shapley_attribution", (s, dir) =>
      graft.operators.Shapley.shapleyAttribution(Tables.events(s, dir)),
      // Shapley: recursive subset lattice + factorial CTE, HUGEINT credits.
      graft.operators.Shapley.shapleyOracleSql),
    // Robust per-segment location: 10% trimmed + winsorized means via
    // one global ranged rank minus per-segment offsets.
    spec("trimmed_means", (s, dir) =>
      graft.operators.RobustStats.trimmedMeans(
        Tables.orders(s, dir), Tables.customer(s, dir)),
      // Trimmed/winsorized: per-segment row_number window, HUGEINT sums.
      graft.operators.RobustStats.trimmedMeansOracleSql),
    // Theil-Sen median slope of hourly volume: bounded O(H^2) pair
    // frame, sign-separated floor-micros, ranked lower median.
    spec("theil_sen_trend", (s, dir) =>
      graft.operators.RobustStats.theilSen(Tables.events(s, dir)),
      // Theil-Sen: identical pair slopes + lower-median row_number pick.
      graft.operators.RobustStats.theilSenOracleSql),
    // Simpson's-paradox audit: per-stratum vs pooled conversion-sign
    // comparison on cross-multiplied integer cells.
    spec("simpson_reversal", (s, dir) =>
      graft.operators.Experiment.simpsonReversal(Tables.events(s, dir)),
      // Simpson: sign of HUGEINT cross products, pooled row UNION ALL.
      graft.operators.Experiment.simpsonOracleSql),
    // Uplift decile (Qini) table: exact ntile deciles, floor-micros
    // treated-vs-control lifts, cumulative sums over the 10-row frame.
    spec("uplift_deciles", (s, dir) =>
      graft.operators.Experiment.upliftDeciles(Tables.events(s, dir)),
      graft.operators.Experiment.upliftOracleSql()),
    // Delete-a-group jackknife variance of the avg-order-value ratio:
    // B hash buckets, integer LOO micros, one identical IEEE variance.
    spec("jackknife_ratio", (s, dir) =>
      graft.operators.Experiment.jackknifeRatio(Tables.events(s, dir)),
      // Jackknife: HUGEINT bucket sums, floor-micros LOO, spelled variance.
      graft.operators.Experiment.jackknifeOracleSql()),
    // Deterministic synchronous label propagation over the shared-span
    // graph: majority-label rounds with min-label ties, honest converged.
    spec("doc_communities", (s, dir) =>
      graft.operators.Centrality.docCommunities(Tables.documents(s, dir)),
      // LPA communities: unrolled argmax rounds (row_number ≡ struct max).
      graft.operators.Centrality.docCommunitiesOracleSql()),
    // CMH pooled odds ratio across day strata: floor-micros 2x2 terms.
    spec("cmh_pooled_odds", (s, dir) =>
      graft.operators.Experiment.cmhPooledOdds(Tables.events(s, dir)),
      // CMH: HUGEINT per-stratum products, pooled floor ratio.
      graft.operators.Experiment.cmhOracleSql),
    // PSM ATT: caliper-banded 1-NN matching with replacement, exact
    // argmin ties, sign-separated ATT micros.
    spec("psm_att", (s, dir) =>
      graft.operators.Experiment.psmAtt(Tables.events(s, dir)),
      // PSM: row_number argmin over the caliper join (≡ struct max).
      graft.operators.Experiment.psmOracleSql()),
    // SRM gate: user-level split counts, exact delta ppm, chi-square.
    spec("srm_check", (s, dir) =>
      graft.operators.Experiment.srmCheck(Tables.events(s, dir)),
      // SRM: distinct users, sign-separated delta, spelled chi-square.
      graft.operators.Experiment.srmOracleSql),
    // NB method-of-moments fit of per-user purchase counts + zero audit.
    spec("nb_fit", (s, dir) =>
      graft.operators.Experiment.nbFit(Tables.events(s, dir)),
      // NB fit: HUGEINT moment numerators, floor-micros p/r.
      graft.operators.Experiment.nbFitOracleSql),
    // Wilson-interval two-proportion readout, exact cells.
    spec("ab_wilson", (s, dir) =>
      graft.operators.Experiment.abWilson(Tables.events(s, dir)),
      // Wilson: round-trip-exact z literals, identical IEEE bounds.
      graft.operators.Experiment.abWilsonOracleSql),
    // Quantile treatment effects: exact per-variant order statistics
    // via ranged ranks, per-quantile treated-control deltas.
    spec("qte_quartiles", (s, dir) =>
      graft.operators.RobustStats.qteQuartiles(Tables.events(s, dir)),
      // QTE: per-variant row_number order statistics at ceil(q·n).
      graft.operators.RobustStats.qteOracleSql),
    // Spearman rho between engagement and spend: exact Σd² integers.
    spec("spearman_engagement_spend", (s, dir) =>
      graft.operators.RobustStats.spearmanEngagementSpend(
        Tables.events(s, dir)),
      // Spearman: identical tie-free rank axes, integer rho micros.
      graft.operators.RobustStats.spearmanOracleSql),
    // Zone-map skip audit: natural vs value-sorted zone pruning for a
    // cents band — the measured case for clustered layout.
    spec("zonemap_skip_audit", (s, dir) =>
      graft.operators.Layout.zonemapSkipAudit(Tables.lineitem(s, dir)),
      // Zone maps: row_number tiling per ordering, min/max prune counts.
      graft.operators.Layout.zonemapOracleSql()),
    // Greedy max-coverage seed-set selection over doc trigram sets:
    // k argmax rounds, marginal gains, cumulative coverage.
    spec("coverage_selection", (s, dir) =>
      graft.operators.Curation.coverageSelection(Tables.documents(s, dir)),
      // Coverage: unrolled greedy rounds, anti-join gains, argmax picks.
      graft.operators.Curation.coverageOracleSql()),
    // Sorted-neighborhood ER blocking: ranged rank + banded window join,
    // plausible pairs with planted-truth flags.
    spec("sorted_neighborhood_pairs", (s, dir) =>
      graft.operators.EntityResolution.sortedNeighborhoodPairs(
        Tables.customer(s, dir)),
      // Sorted-neighborhood: row_number rank + band self-join replay.
      graft.operators.EntityResolution.sortedNeighborhoodPairsOracleSql()),
    // Blocking quality vs truth: recall ppm + reduction ratio ppm.
    spec("sorted_neighborhood_quality", (s, dir) =>
      graft.operators.EntityResolution.sortedNeighborhoodQuality(
        Tables.customer(s, dir)),
      graft.operators.EntityResolution.sortedNeighborhoodQualityOracleSql()),
    // Per-source Flesch readability: pooled integer counts, micros terms.
    spec("readability", (s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir)),
      // Readability: identical regexp_extract_all counts + floor DIV terms.
      TextAnalysis.readabilityOracleSql),
    // Good-Turing count-of-counts over trigrams: exact N_r table and
    // floor-micros adjusted counts r*.
    spec("good_turing", (s, dir) =>
      TextAnalysis.goodTuring(Tables.documents(s, dir)),
      // Good-Turing: zipped-unnest trigrams, self-joined N_r table.
      TextAnalysis.goodTuringOracleSql()),
    // Dunning G² collocations: 2x2 integer cells, identically spelled
    // ln terms, rounded-grid top-30 (PMI's significance-based sibling).
    spec("collocations_g2", (s, dir) =>
      TextAnalysis.collocationsG2(Tables.documents(s, dir)),
      // G²: identical four-term ln sum over window marginals.
      TextAnalysis.collocationsG2OracleSql()),
    // EWMA control chart over hourly volumes (λ=1/4): sequential fold on
    // the time-bounded frame, recursive-CTE oracle, asymptotic 3σ limits.
    spec("ewma_anomalies", (s, dir) =>
      graft.operators.Changepoint.ewmaAnomalies(Tables.events(s, dir)),
      // EWMA: recursive-CTE walk of the identical IEEE update.
      graft.operators.Changepoint.ewmaOracleSql()),
    // Benford first-digit screen on order totals (string-derived digits,
    // no log-boundary hazard).
    spec("benford_audit", (s, dir) =>
      graft.operators.DataQuality.benfordAudit(Tables.orders(s, dir),
        "o_totalprice"),
      // Benford screen: digits from decimal strings of floor(), log10
      // expectation.
      graft.operators.DataQuality.benfordOracleSql(
        "orders", "o_totalprice")),
    // PMI/mutual-information cells for source × lang (association
    // strength beside the chi-square independence audit).
    spec("mutual_info_source_lang", (s, dir) =>
      graft.operators.DataQuality.mutualInformation(
        Tables.documents(s, dir), "source", "lang"),
      graft.operators.DataQuality.mutualInformationOracleSql(
        "documents", "source", "lang")),
    // GDPR erasure blast-radius: per-table affected-row counts for the
    // forgotten-user cohort, transitive through orders → lineitem.
    spec("deletion_propagation", (s, dir) =>
      graft.operators.DataQuality.deletionPropagation(
        Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), Tables.events(s, dir)),
      graft.operators.DataQuality.deletionPropagationOracleSql()),
    // Markov next-event predictor: train-fold argmax transitions,
    // held-out accuracy — all exact integers, lexicographic tie-break.
    spec("markov_next_event", (s, dir) =>
      graft.operators.Eval.markovNextEvent(Tables.events(s, dir)),
      graft.operators.Eval.markovOracleSql),
    // Reliability-diagram table for the hour-of-day purchase propensity:
    // predicted (train) vs observed (test) rate per bucket, micros-exact.
    spec("propensity_calibration", (s, dir) =>
      graft.operators.Eval.propensityCalibration(Tables.events(s, dir)),
      graft.operators.Eval.propensityOracleSql),
    // Readability-family lexical complexity per source (vowel-group
    // syllables, polysyllabic share) on the integer micros path.
    spec("lexical_complexity", (s, dir) =>
      TextAnalysis.lexicalComplexity(Tables.documents(s, dir)),
      TextAnalysis.lexicalComplexityOracleSql),
    // Poisson overdispersion check of hourly volumes (verdict on
    // cleared-denominator exact integers).
    spec("overdispersion_check", (s, dir) =>
      graft.operators.Changepoint.overdispersionCheck(Tables.events(s, dir)),
      graft.operators.Changepoint.overdispersionOracleSql),
    // Lag-1 autocorrelation of hourly volumes (exact Pearson on the
    // lag-joined pairs).
    spec("hourly_autocorr", (s, dir) =>
      graft.operators.Changepoint.hourlyAutocorr(Tables.events(s, dir)),
      graft.operators.Changepoint.hourlyAutocorrOracleSql),
    // Pseudo-relevance-feedback expansion terms from the BM25 top-10
    // (exact-count ranking; floats only inside the scalar BM25 select).
    spec("prf_expansion", (s, dir) =>
      TextAnalysis.prfExpansion(Tables.documents(s, dir)),
      TextAnalysis.prfExpansionOracleSql()),
    // Hit-rate@1 of the basket-cosine recommender on held-out orders.
    spec("itemrec_hitrate", (s, dir) =>
      graft.operators.Association.itemrecHitrate(Tables.lineitem(s, dir)),
      graft.operators.Association.itemrecHitrateOracleSql()),
    // Exact Gini concentration of the shuffle keys (skew diagnostic
    // feeding Skew/AQE decisions; ranked frame rides DistributedRank).
    spec("key_skew_gini", (s, dir) =>
      graft.operators.SkewStats.keySkewGini(Tables.events(s, dir),
        Tables.lineitem(s, dir), Tables.orders(s, dir)),
      graft.operators.SkewStats.keySkewGiniOracleSql),
    // Per-label centroid shift between vec_id folds on the exact
    // fixed-point path — multivariate drift beside KS/PSI.
    spec("embedding_split_drift", (s, dir) =>
      graft.operators.Drift.embeddingSplitDrift(Tables.embeddings(s, dir)),
      graft.operators.Drift.embeddingSplitDriftOracleSql),
    // CEP-lite: per-user ordered event string + unambiguous-regex
    // pattern counts (adjacent conversions, longest purchase streak).
    spec("event_pattern_match", (s, dir) =>
      Analytics.eventPatternMatch(Tables.events(s, dir)),
      Analytics.eventPatternMatchOracleSql),
    // Exact equi-depth histogram of line price (rank-based ntile, no
    // single-task sort) — the selectivity statistic beside column_stats.
    spec("equidepth_histogram", (s, dir) =>
      graft.operators.Histogram.equidepthHistogram(Tables.lineitem(s, dir)),
      graft.operators.Histogram.equidepthOracleSql()),
    // First-view -> first-purchase latency, exact order-statistic
    // quantiles over the per-user lag frame.
    spec("conversion_lag_quantiles", (s, dir) =>
      Analytics.conversionLagQuantiles(Tables.events(s, dir)),
      Analytics.conversionLagOracleSql),
    // Month-over-month segment revenue growth in exact ppm.
    spec("mom_growth", (s, dir) =>
      Analytics.momGrowth(Tables.orders(s, dir), Tables.customer(s, dir)),
      Analytics.momGrowthOracleSql),
    // Adtributor-style period-over-period mix-shift shares per dimension.
    spec("delta_attribution", (s, dir) =>
      Analytics.deltaAttribution(Tables.events(s, dir)),
      Analytics.deltaAttributionOracleSql()),
    // Exact p50/p95 purchase value per hour-of-day (partitioned ranks).
    spec("hourly_value_percentiles", (s, dir) =>
      Analytics.hourlyValuePercentiles(Tables.events(s, dir)),
      Analytics.hourlyValuePercentilesOracleSql),
    // Linear multi-touch attribution via trailing-24h RANGE counts.
    spec("linear_attribution", (s, dir) =>
      Analytics.linearAttribution(Tables.events(s, dir)),
      Analytics.linearAttributionOracleSql),
    // ClickHouse-style windowed funnel depth via chained min-aggregations.
    spec("window_funnel_depth", (s, dir) =>
      Analytics.windowFunnelDepth(Tables.events(s, dir)),
      Analytics.windowFunnelOracleSql()),
    // Weekly-cohort cumulative LTV curves in exact cents.
    spec("clv_cohort_curves", (s, dir) =>
      Analytics.clvCohortCurves(Tables.events(s, dir)),
      Analytics.clvCohortOracleSql),
    // Holt linear level+trend fold with one-step forecasts
    // (recursive-CTE oracle, bit-identical update chain).
    spec("holt_forecast", (s, dir) =>
      graft.operators.Changepoint.holtForecast(Tables.events(s, dir)),
      graft.operators.Changepoint.holtOracleSql),
    // Heaps-law vocabulary growth across doc-order deciles.
    spec("vocab_growth", (s, dir) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, dir)),
      TextAnalysis.vocabGrowthOracleSql),
    // Daily acquisition-vs-retention mix in exact ppm.
    spec("new_vs_returning", (s, dir) =>
      Analytics.newVsReturning(Tables.events(s, dir)),
      Analytics.newVsReturningOracleSql),
    // Multi-window SLO error-budget burn with the two-window page rule.
    spec("slo_burn_rate", (s, dir) =>
      Analytics.sloBurnRate(Tables.events(s, dir)),
      Analytics.sloBurnRateOracleSql()),
    // Zipf-tail profile: hapax/rare type and mass shares per source.
    spec("rare_token_share", (s, dir) =>
      TextAnalysis.rareTokenShare(Tables.documents(s, dir)),
      TextAnalysis.rareTokenShareOracleSql()),

    // RAKE multi-word keyword extraction: stopword-delimited phrase
    // islands, integer deg/freq micros, corpus top-25.
    spec("rake_keywords", (s, dir) =>
      graft.operators.Keywords.rakeKeywords(
        Tables.documents(s, dir), stopwords),
      // RAKE: gaps-and-islands phrases, string_agg, HUGEINT deg/freq.
      graft.operators.Keywords.rakeOracleSql(stopwordsSqlList)),
    // Substring-level dedup (Lee et al. 2022): exact k-token spans
    // appearing in >= 2 distinct docs, ranked by spread.
    spec("duplicate_spans", (s, dir) =>
      graft.operators.SpanDedup.duplicateSpans(Tables.documents(s, dir)),
      graft.operators.SpanDedup.duplicateSpansOracleSql()),
    // Per-doc duplicated-token coverage: exact interval union of
    // cross-doc duplicated windows via one lag pass per document.
    spec("span_coverage", (s, dir) =>
      graft.operators.SpanDedup.spanCoverage(Tables.documents(s, dir)),
      graft.operators.SpanDedup.spanCoverageOracleSql()),
    // Phrase blocklist screen: exact positional phrase matches, one
    // window pass per distinct phrase LENGTH, In-predicate probe.
    spec("blocklist_hits", (s, dir) =>
      graft.operators.SpanDedup.blocklistHits(Tables.documents(s, dir)),
      graft.operators.SpanDedup.blocklistHitsOracleSql()),
    // Deterministic T5-style span-corruption plan: seeded mix64 coin per
    // position, clipped interval union, sentinel counts, mask ppm.
    spec("span_mask_plan", (s, dir) =>
      graft.operators.SpanDedup.spanMaskPlan(Tables.documents(s, dir)),
      graft.operators.SpanDedup.spanMaskPlanOracleSql()),
    // Mask APPLY: rewrite the corpus with the sentinel in place of every
    // gated-span token — map-only (the gate is a pure (doc_id, pos)
    // function), zero shuffles.
    spec("span_mask_apply", (s, dir) =>
      graft.operators.SpanDedup.spanMaskApply(Tables.documents(s, dir)),
      graft.operators.SpanDedup.spanMaskApplyOracleSql()),
    // Link prediction on the shared-span graph: distance-2 non-edges
    // scored by common-neighbor / Jaccard / resource-allocation /
    // preferential-attachment — all exact integers.
    spec("link_prediction", (s, dir) =>
      graft.operators.Centrality.linkPrediction(Tables.documents(s, dir)),
      graft.operators.Centrality.linkPredictionOracleSql()),
    // Holt-Winters additive seasonal (m=24) over gap-filled hourly
    // volume: rotating seasonal queue, exact-binary-fraction smoothing,
    // in-sample one-step forecasts + 24 future hours.
    spec("holt_winters", (s, dir) =>
      graft.operators.Changepoint.holtWinters(Tables.events(s, dir)),
      graft.operators.Changepoint.holtWintersOracleSql),
    // Exact Kendall tau-b between hourly volume and hourly spend:
    // integer pair votes over the hour^2-bounded frame.
    spec("kendall_tau", (s, dir) =>
      graft.operators.RobustStats.kendallTau(Tables.events(s, dir)),
      graft.operators.RobustStats.kendallTauOracleSql),
    // Beta-binomial empirical-Bayes shrinkage: MoM prior on per-user
    // rate micros, nested-floor-DIV chain, per-cohort raw vs shrunk.
    spec("eb_shrinkage", (s, dir) =>
      graft.operators.Experiment.ebShrinkage(Tables.events(s, dir)),
      graft.operators.Experiment.ebShrinkageOracleSql()),
    // Neyman stratified allocation: exact N_h*sigma_h weights via
    // sqrt of integer variance numerators, Hamilton largest-remainder.
    spec("neyman_allocation", (s, dir) =>
      graft.operators.Experiment.neymanAllocation(Tables.events(s, dir)),
      graft.operators.Experiment.neymanAllocationOracleSql()),
    // Recursive (c,l)-diversity audit: r1 < c * tail on DESC-sorted
    // sensitive counts per QI class.
    spec("l_diversity", (s, dir) =>
      graft.operators.Privacy.recursiveLDiversity(Tables.customer(s, dir)),
      graft.operators.Privacy.recursiveLDiversityOracleSql()),
    // DP contribution bounding: keep-first-k per (user,type), clip at
    // cap, published l1 sensitivity.
    spec("contribution_capped_agg", (s, dir) =>
      graft.operators.Privacy.contributionCappedAgg(Tables.events(s, dir)),
      graft.operators.Privacy.contributionCappedAggOracleSql()),
    // Page-Hinkley sequential drift test: running-mean integer-micros
    // walk per event type, baseline-free.
    spec("page_hinkley", (s, dir) =>
      graft.operators.Changepoint.pageHinkley(Tables.events(s, dir)),
      graft.operators.Changepoint.pageHinkleyOracleSql()),
    // Bipartite HITS on doc<->shared-shingle incidence: mean-normalized
    // integer half-steps, two rounds.
    spec("doc_hits", (s, dir) =>
      graft.operators.Centrality.docHits(Tables.documents(s, dir)),
      graft.operators.Centrality.docHitsOracleSql()),
    // Supervised Fellegi-Sunter m/u estimation from the planted ER
    // truth: per-field ppm rates + derived log-weights.
    spec("fs_mu_estimates", (s, dir) =>
      graft.operators.EntityResolution.fsMuEstimates(
        Tables.customer(s, dir)),
      graft.operators.EntityResolution.fsMuEstimatesOracleSql),
    // Mann-Kendall monotone-trend significance on hourly volume:
    // integer S, tie-corrected variance, continuity-corrected Z.
    spec("mann_kendall", (s, dir) =>
      graft.operators.RobustStats.mannKendall(Tables.events(s, dir)),
      graft.operators.RobustStats.mannKendallOracleSql),
    // Croston + SBA intermittent-demand forecast per part: demand-point
    // fold, sign-separated micro updates.
    spec("croston_forecast", (s, dir) =>
      graft.operators.Changepoint.crostonForecast(Tables.lineitem(s, dir)),
      graft.operators.Changepoint.crostonOracleSql),
    // Full ACF correlogram (lags 1..24) on the gap-filled hourly series:
    // exact Pearson per lag, one shifted-key equi-join.
    spec("acf_profile", (s, dir) =>
      graft.operators.Changepoint.acfProfile(Tables.events(s, dir)),
      graft.operators.Changepoint.acfProfileOracleSql()),
    // MASE skill audit of the Holt model vs naive / seasonal-naive:
    // tenth-milli integer error sums, exact ratio DIV.
    spec("forecast_eval", (s, dir) =>
      graft.operators.Changepoint.forecastEval(Tables.events(s, dir)),
      graft.operators.Changepoint.forecastEvalOracleSql),
    // TextRank keywords: 3-round integer pagerank over the window-2
    // word co-occurrence graph.
    spec("textrank_keywords", (s, dir) =>
      graft.operators.Keywords.textrankKeywords(Tables.documents(s, dir)),
      graft.operators.Keywords.textrankOracleSql()),
    // langid confusion matrix + per-class recall vs the labeled lang.
    spec("langid_confusion", (s, dir) =>
      TextAnalysis.langidConfusion(Tables.documents(s, dir)),
      TextAnalysis.langidConfusionOracleSql),
    // Exact range-partitioner plan: k-1 split points at exact global
    // ranks (what RangePartitioner samples for, computed exactly).
    spec("range_partition_plan", (s, dir) =>
      graft.operators.Layout.rangePartitionPlan(Tables.orders(s, dir)),
      graft.operators.Layout.rangePartitionPlanOracleSql()),
    // Murphy decomposition of the Brier score + ECE for the propensity
    // model: BS = REL - RES + UNC on cleared-denominator integers.
    spec("brier_decomposition", (s, dir) =>
      graft.operators.Eval.brierDecomposition(Tables.events(s, dir)),
      graft.operators.Eval.brierOracleSql),
    // Watermark-lateness profile: two-level distributed prefix-max over
    // arrival order, banded lateness shares.
    spec("watermark_lateness", (s, dir) =>
      graft.operators.Lateness.watermarkLateness(Tables.events(s, dir)),
      graft.operators.Lateness.watermarkLatenessOracleSql),
    // Trim plan: per doc the longest stretch free of cross-doc
    // duplicated windows (keep_from, keep_len) — the act step of the
    // span-dedup family.
    spec("span_trim_plan", (s, dir) =>
      graft.operators.SpanDedup.spanTrimPlan(Tables.documents(s, dir)),
      graft.operators.SpanDedup.spanTrimPlanOracleSql()),
    // Trim APPLY: emit the edited corpus (kept stretch re-joined) — the
    // final step of the Lee et al. exact-substring-removal loop.
    spec("span_trim_apply", (s, dir) =>
      graft.operators.SpanDedup.spanTrimApply(Tables.documents(s, dir)),
      graft.operators.SpanDedup.spanTrimApplyOracleSql()),
    // Composed end-to-end regeneration: trim-apply -> exact dedup of the
    // edited text -> content-hash re-split -> cross-split leak audit.
    spec("curation_regen_splits", (s, dir) =>
      graft.operators.Curation.regenSplits(Tables.documents(s, dir)),
      graft.operators.Curation.regenSplitsOracleSql()),
    // Rocchio nearest-centroid eval on the labeled embeddings: exact
    // fixed-point centroids, inner-product argmax, confusion matrix.
    spec("centroid_classifier_eval", (s, dir) =>
      graft.operators.Similarity.centroidClassifierEval(
        Tables.embeddings(s, dir)),
      graft.operators.Similarity.centroidClassifierOracleSql),
    // MMR diverse retrieval: greedy 7*rel - 3*maxsim over the top-50
    // pool, exact fixed-point inner products, unrolled-greedy oracle.
    spec("mmr_selection", (s, dir) =>
      graft.operators.Similarity.mmrSelection(Tables.embeddings(s, dir)),
      graft.operators.Similarity.mmrOracleSql()),
    // Hard-negative mining: per anchor, the top cross-label cosine
    // neighbors (the contrastive-training negatives that matter).
    spec("hard_negatives", (s, dir) =>
      graft.operators.Similarity.hardNegatives(Tables.embeddings(s, dir)),
      graft.operators.Similarity.hardNegativesOracleSql()),
    // DTW distance between hour-of-day volume profiles of event-type
    // pairs: exact min-plus DP folded inside one row per pair.
    spec("dtw_profiles", (s, dir) =>
      graft.operators.SeqAlign.dtwProfiles(Tables.events(s, dir)),
      graft.operators.SeqAlign.dtwProfilesOracleSql),
    // Two-state burst automaton (Kleinberg-shaped, integer costs):
    // forward+backward min-sum decode, burst islands with extent/volume.
    spec("viterbi_bursts", (s, dir) =>
      graft.operators.SeqAlign.viterbiBursts(Tables.events(s, dir)),
      graft.operators.SeqAlign.viterbiBurstsOracleSql),
    // The per-hour decode table behind viterbi_bursts: one row per
    // gap-filled hour + the min(c0,c1)=path_cost tightness self-check,
    // so the forward-backward recurrence is oracle-checked even on calm
    // data where the islands output is empty (the r8 vacuous-compare).
    spec("viterbi_states", (s, dir) =>
      graft.operators.SeqAlign.viterbiStates(Tables.events(s, dir)),
      graft.operators.SeqAlign.viterbiStatesOracleSql),
    // Exact fixed-point Gram matrix of the embedding corpus
    // (dimension-bounded shuffle; quantize-once int64 products).
    spec("embedding_gram", (s, dir) =>
      graft.operators.Pca.gramMatrix(Tables.embeddings(s, dir)),
      graft.operators.Pca.gramOracleSql),
    // Top principal direction via integer power iteration on the
    // quantized Gram — bit-identical across engines by construction.
    spec("embedding_pca_power", (s, dir) =>
      graft.operators.Pca.pcaPowerIteration(Tables.embeddings(s, dir)),
      graft.operators.Pca.pcaOracleSql()),
    // Distributed suffix array (prefix doubling, Lee et al. 2021 /
    // Flick & Aluru SC'15): head of the global suffix order.
    spec("suffix_array_head", (s, dir) =>
      graft.operators.SuffixArray.suffixArrayHead(
        Tables.documents(s, dir), k = 100),
      graft.operators.SuffixArray.suffixArrayHeadOracleSql(100)),
    // Exact longest repeated substring via rank-pair binary search.
    spec("suffix_lrs", (s, dir) =>
      graft.operators.SuffixArray.longestRepeatedSubstring(
        Tables.documents(s, dir)),
      graft.operators.SuffixArray.lrsOracleSql),
    // Cross-split verbatim contamination at 64-char granularity over
    // the content-hash split rule (Lee et al. decontamination check).
    spec("split_contamination", (s, dir) =>
      graft.operators.SuffixArray.splitContamination(
        Tables.documents(s, dir)),
      graft.operators.SuffixArray.splitContaminationOracleSql()),
    // Burst-BEARING fixture: one day's events unioned in 4 extra times
    // (5x volume on 2024-01-15, far above L1 = 2*L0+1), so the islands
    // path — grouping, extents, volumes, path-cost constant — is
    // exercised on non-empty output at every tested scale.
    spec("viterbi_bursts_spiked", (s, dir) => {
      val ev = Tables.events(s, dir)
      val spike = ev.filter(to_date(col("ts")) === lit("2024-01-15"))
      graft.operators.SeqAlign.viterbiBursts(
        ev.unionByName(spike).unionByName(spike)
          .unionByName(spike).unionByName(spike))
    },
      graft.operators.SeqAlign.viterbiBurstsOracleSql(
        Seq.fill(4)(
          "SELECT ts FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'")
          .mkString("SELECT ts FROM events UNION ALL ", " UNION ALL ", ""))),
    // Frequent event-type SUBSEQUENCES (PrefixSpan/GSP family) within
    // gap-sessions — Apriori-pruned level-wise mining, length ≤ 3.
    spec("freq_event_seqs", (s, dir) =>
      graft.operators.SeqMining.frequentSequences(Tables.events(s, dir)),
      graft.operators.SeqMining.frequentSequencesOracleSql),
    // Fisher randomization test of the A/B revenue contrast: 64 seeded
    // label re-draws as 64 rows per user, one aggregate per replicate,
    // cross-multiplied integer comparison, exact p.
    spec("perm_test_ab", (s, dir) =>
      graft.operators.Randomization.permTestAb(Tables.events(s, dir)),
      graft.operators.Randomization.permTestAbOracleSql),
    // Exact 1-D Wasserstein-1 drift between per-type value distributions
    // (integral-of-CDF-gap on the merged cent support, exact fraction).
    spec("w1_value_drift", (s, dir) =>
      graft.operators.Wasserstein.w1ValueDrift(Tables.events(s, dir)),
      graft.operators.Wasserstein.w1ValueDriftOracleSql),
    // Interpolated Kneser–Ney bigram table with D=3/4 on the exact
    // integer lattice — every row carries the provable per-head
    // normalization identity as a norm_tight self-check.
    spec("kn_bigram_table", (s, dir) =>
      graft.functions.LanguageModel.knBigramTable(Tables.documents(s, dir)),
      graft.functions.LanguageModel.knBigramTableOracleSql()),
    // CCNet-style per-doc quality score under the KN model (bigramNll's
    // add-one baseline upgraded to the discounting LMs actually use).
    spec("kn_doc_nll", (s, dir) =>
      graft.functions.LanguageModel.knDocNll(Tables.documents(s, dir)),
      graft.functions.LanguageModel.knDocNllOracleSql),
    // Stupid Backoff (Brants 2007) scored CROSS-SPLIT (train+val model,
    // test-side docs) so the backoff path is actually exercised; exact
    // per-bigram micros summed on the integer lattice, path counts in-row.
    spec("stupid_backoff_eval", (s, dir) =>
      graft.functions.LanguageModel.stupidBackoffCrossSplit(
        Tables.documents(s, dir)),
      graft.functions.LanguageModel.stupidBackoffCrossSplitOracleSql),
    // Per-doc k-gram novelty vs everything earlier in the ingestion
    // timeline: first-occurrence attribution via one min() window over
    // hashed shingle keys.
    spec("ngram_novelty", (s, dir) =>
      graft.operators.Novelty.ngramNovelty(Tables.documents(s, dir)),
      graft.operators.Novelty.ngramNoveltyOracleSql()),
    // Gonzalez farthest-point k-center coreset over the embedding corpus:
    // incremental dmin frame, k map scans, exact fixed-point distances,
    // per-round covering radius as the 2-approximation certificate.
    spec("kcenter_selection", (s, dir) =>
      graft.operators.Similarity.kCenterSelection(
        Tables.embeddings(s, dir)),
      graft.operators.Similarity.kCenterOracleSql()),
    // Warner randomized response under ε = ln 3 local DP with the exact
    // integer debiased estimator (the /2 folds into the micros scale).
    spec("ldp_randomized_response", (s, dir) =>
      graft.operators.Privacy.ldpRandomizedResponse(Tables.events(s, dir)),
      graft.operators.Privacy.ldpRandomizedResponseOracleSql),
    // Benjamini–Hochberg step-up over a family of per-stratum
    // randomization tests — perm_test_ab's kernel grouped by stratum
    // (one row per stratum and replicate), exact p fractions,
    // rank-arithmetic FDR.
    spec("bh_fdr", (s, dir) =>
      graft.operators.MultipleTesting.bhFdr(Tables.events(s, dir)),
      graft.operators.MultipleTesting.bhFdrOracleSql),
    // Exact Yule–Walker AR(2) on the floor-mean-centered hourly series,
    // quadratics in DECIMAL(38,0), signed floor micros.
    spec("ar2_forecast", (s, dir) =>
      graft.operators.Autoregression.ar2YuleWalker(Tables.events(s, dir)),
      graft.operators.Autoregression.ar2YuleWalkerOracleSql),
    // SentencePiece-style unigram Viterbi segmentation on the exact
    // integer lattice (lexicographic MDL objective), row-local DP.
    spec("unigram_segment", (s, dir) =>
      graft.functions.UnigramTokenizer.unigramSegment(
        Tables.documents(s, dir)),
      graft.functions.UnigramTokenizer.unigramSegmentOracleSql()),
    // RANSAC consensus line through the hourly revenue scatter, exact
    // cross-multiplied inlier test, exact OLS refit on the winner.
    spec("ransac_trend", (s, dir) =>
      graft.operators.Ransac.ransacTrend(Tables.events(s, dir)),
      graft.operators.Ransac.ransacTrendOracleSql),
    // Hodges–Lehmann pseudo-median of hourly volume (Walsh-average
    // ranks over integer pair sums — the /2 folds into micros).
    spec("hodges_lehmann", (s, dir) =>
      graft.operators.RobustStats.hodgesLehmann(Tables.events(s, dir)),
      graft.operators.RobustStats.hodgesLehmannOracleSql),
    // 2-D skyline: documents undominated on (token count, distinct
    // tokens) via the sort-based sweep as one two-level window.
    spec("pareto_docs", (s, dir) =>
      graft.operators.Skyline.paretoDocs(Tables.documents(s, dir)),
      graft.operators.Skyline.paretoDocsOracleSql),
    // Chapman / Lincoln–Petersen capture–recapture estimate of the
    // corpus vocabulary from two disjoint hash-gated doc samples.
    spec("capture_recapture_vocab", (s, dir) =>
      graft.operators.CorpusStats.captureRecaptureVocab(
        Tables.documents(s, dir)),
      graft.operators.CorpusStats.captureRecaptureVocabOracleSql),
    // Per-source boilerplate tokens: doc-frequency share ≥ 4/5,
    // compared cross-multiplied.
    spec("source_boilerplate_tokens", (s, dir) =>
      graft.operators.CorpusStats.sourceBoilerplateTokens(
        Tables.documents(s, dir)),
      graft.operators.CorpusStats.sourceBoilerplateTokensOracleSql()),
    // Term-frequency-weighted Jaccard rerank of the set-level
    // near-duplicate candidates (histogram intersection over union).
    spec("weighted_jaccard_rerank", (s, dir) =>
      graft.operators.WeightedJaccard.weightedJaccardRerank(
        Tables.documents(s, dir)),
      graft.operators.WeightedJaccard.weightedJaccardRerankOracleSql()),
    // Cramér–von Mises per-source drift — the exact integral companion
    // to ks_drift's sup statistic, DECIMAL(38,0)/HUGEINT quadratics.
    spec("cvm_drift", (s, dir) =>
      graft.operators.Drift.cvmDrift(Tables.documents(s, dir)),
      graft.operators.Drift.cvmDriftOracleSql),
    // Exact CART decision stump on value cents predicting the purchase
    // label: min weighted Gini over the distinct-cents histogram.
    spec("gini_stump", (s, dir) =>
      graft.operators.DecisionStump.giniStump(Tables.events(s, dir)),
      graft.operators.DecisionStump.giniStumpOracleSql),
    // Bentley max-subarray of the m0-centered hourly series via the
    // associative Kadane monoid (canonical tie rules, epoch-hour bounds).
    spec("max_burst_window", (s, dir) =>
      graft.operators.SeqAlign.maxBurstWindow(Tables.events(s, dir)),
      graft.operators.SeqAlign.maxBurstWindowOracleSql),
    // Tie-corrected ROC-AUC via the Mann–Whitney identity on doubled
    // average ranks over the distinct-cents histogram; Gini rides along.
    spec("roc_auc_value", (s, dir) =>
      graft.operators.ClassifierEval.rocAucValue(Tables.events(s, dir)),
      graft.operators.ClassifierEval.rocAucValueOracleSql),
    // The stump read as a leaf-majority classifier: confusion counts by
    // pure arithmetic on the stump row; precision/recall/F1 exact micros.
    spec("stump_confusion", (s, dir) =>
      graft.operators.ClassifierEval.stumpConfusion(Tables.events(s, dir)),
      graft.operators.ClassifierEval.stumpConfusionOracleSql),
    // McNemar's paired χ² on per-user conversion, first vs second half
    // of the observation window (exact epoch-micros midpoint split).
    spec("mcnemar_conversion", (s, dir) =>
      graft.operators.ClassifierEval.mcnemarConversion(
        Tables.events(s, dir)),
      graft.operators.ClassifierEval.mcnemarConversionOracleSql),
    // Cohen's kappa between the n-gram language-ID heuristic and the
    // labeled lang column — chance-corrected agreement, sign-split.
    spec("langid_kappa", (s, dir) =>
      graft.operators.ClassifierEval.langidKappa(Tables.documents(s, dir)),
      graft.operators.ClassifierEval.langidKappaOracleSql),
    // DBSCAN over the fit-free LSH-cell candidate graph: core/border/
    // noise roles + min-label components, all oracle-replayable.
    spec("dbscan_lsh", (s, dir) =>
      graft.operators.Similarity.dbscanLsh(Tables.embeddings(s, dir)),
      graft.operators.Similarity.dbscanLshOracleSql()),
    // Nelson–Aalen cumulative hazard: sum-of-floors prefix windows over
    // the churn-duration frame — the additive sibling of km_survival.
    spec("nelson_aalen", (s, dir) =>
      graft.operators.Survival.nelsonAalen(Tables.orders(s, dir)),
      graft.operators.Survival.nelsonAalenOracleSql()),
    // IPS / SNIPS off-policy value of the time-targeted promo policy
    // from uniformly logged splitmix arms (propensity exactly 1/4).
    spec("ips_policy_value", (s, dir) =>
      graft.operators.OffPolicy.ipsPolicyValue(Tables.events(s, dir)),
      graft.operators.OffPolicy.ipsPolicyValueOracleSql),
    // Tie-corrected Kruskal–Wallis H across types on doubled pooled
    // ranks; sum-of-floors micros contract.
    spec("kruskal_wallis", (s, dir) =>
      graft.operators.GroupTests.kruskalWallis(Tables.events(s, dir)),
      graft.operators.GroupTests.kruskalWallisOracleSql),
    // Cochran–Armitage trend of purchase rate across ordered day-parts.
    spec("cochran_armitage", (s, dir) =>
      graft.operators.GroupTests.cochranArmitage(Tables.events(s, dir)),
      graft.operators.GroupTests.cochranArmitageOracleSql),
    // Brown–Forsythe (median-centered Levene) variance homogeneity.
    spec("brown_forsythe", (s, dir) =>
      graft.operators.GroupTests.brownForsythe(Tables.events(s, dir)),
      graft.operators.GroupTests.brownForsytheOracleSql),
    // Jonckheere–Terpstra ordered-alternative statistic on the doubled
    // lattice with the exact null expectation.
    spec("jonckheere_terpstra", (s, dir) =>
      graft.operators.GroupTests.jonckheereTerpstra(Tables.events(s, dir)),
      graft.operators.GroupTests.jonckheereTerpstraOracleSql)
  )

  private val stopwords = Seq("the", "a", "of", "and")
  private val stopwordsSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  /** DuckDB spelling of the exact cents fixed point (BIGINT) — the single
    * lockstep partner of [[graft.queries.Analytics.centsOf]] for every
    * oracle that does cents math.
    */
  private def sqlCentsLong(c: String): String =
    s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** The cents fixed point as VARCHAR (the serialization form
    * [[graft.operators.DataQuality.tableFingerprints]] uses for every
    * double column).
    */
  private def sqlCents(c: String): String =
    s"CAST(${sqlCentsLong(c)} AS VARCHAR)"

  private def sqlStr(c: String): String = s"CAST($c AS VARCHAR)"

  /** Seed-distance BFS oracle (shared by the iterative-operator and
    * recursive-CTE query spellings): string-shingle edges, depth-capped
    * recursion, min depth per node, -1 past the hop budget.
    */
  private lazy val seedDistanceOracleSql: String =
    """WITH RECURSIVE tk AS (SELECT doc_id, string_split(text, ' ') AS toks
      |            FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(toks) - 6),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |         toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
      |         toks[i+6] || ' ' || toks[i+7]))) AS shingle
      |  FROM tk),
      |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
      |shf AS (SELECT doc_id, shingle FROM sh JOIN df USING (shingle)
      |        WHERE df BETWEEN 2 AND 50),
      |pr AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |       FROM shf a JOIN shf b USING (shingle) WHERE a.doc_id < b.doc_id),
      |ed AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
      |bfs(v, d) AS (
      |  SELECT doc_id, 0 FROM documents WHERE doc_id < 10
      |  UNION
      |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN ed e ON e.src = bfs.v
      |  WHERE bfs.d < 3),
      |md AS (SELECT v, min(d) AS distance FROM bfs GROUP BY 1)
      |SELECT doc.doc_id,
      |  CAST(COALESCE(md.distance, -1) AS BIGINT) AS distance
      |FROM documents doc LEFT JOIN md ON doc.doc_id = md.v
      |ORDER BY doc.doc_id""".stripMargin

  /** The winnowing pipeline CTE prefix (through the distinct fingerprint
    * frame `fp`), shared by the per-doc stats oracle and the candidate-
    * pair oracle: per-position FNV-1a folds (HUGEINT mod 2^64, signed
    * view for min-ordering parity), frame window minima, rightmost-tie
    * selection join, distinct — k=8, w=4 literal.
    */
  private lazy val winnowFpCte: String =
    s"""WITH d0 AS (
      |  SELECT doc_id, text, CAST(length(text) - 7 AS BIGINT) AS m
      |  FROM documents WHERE length(text) >= 8 AND $asciiGuard),
      |g AS (
      |  SELECT doc_id, m, i,
      |    CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
      |         THEN hu - 18446744073709551616::HUGEINT ELSE hu END
      |      AS BIGINT) AS h
      |  FROM (
      |    SELECT doc_id, m, i,
      |      list_reduce(
      |        list_prepend(14695981039346656037::HUGEINT,
      |          list_transform(range(0, 8),
      |            j -> ord(substr(text, CAST(i + j AS INTEGER), 1))::HUGEINT)),
      |        (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                  % 18446744073709551616::HUGEINT) AS hu
      |    FROM (SELECT doc_id, m, text, unnest(range(1, m + 1)) AS i
      |          FROM d0))),
      |wd AS (
      |  SELECT doc_id, i AS t, winmin FROM (
      |    SELECT doc_id, m, i,
      |      min(h) OVER (PARTITION BY doc_id ORDER BY i
      |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS winmin
      |    FROM g)
      |  WHERE i <= greatest(m - 3, 1)),
      |sel AS (
      |  SELECT g.doc_id AS doc_id, wd.t, wd.winmin, max(g.i) AS selpos
      |  FROM g JOIN wd ON g.doc_id = wd.doc_id AND g.h = wd.winmin
      |    AND g.i BETWEEN wd.t AND wd.t + 3
      |  GROUP BY 1, 2, 3),
      |fp AS (SELECT DISTINCT doc_id, selpos, winmin FROM sel)
      |""".stripMargin

  private lazy val winnowOracleSql: String = winnowFpCte +
    """, agg AS (
      |  SELECT doc_id, count(*) AS n_fingerprints,
      |    CAST(sum((winmin % 1000000007 + 1000000007) % 1000000007)
      |      % 1000000007 AS BIGINT) AS fp_checksum
      |  FROM fp GROUP BY 1)
      |SELECT d0.doc_id, m AS n_grams,
      |  greatest(m - 3, 1) AS n_windows,
      |  n_fingerprints, fp_checksum,
      |  CAST(n_fingerprints * 1000000 // greatest(m - 3, 1) AS BIGINT)
      |    AS density_ppm
      |FROM d0 JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Candidate-pair CTE extension (through `wpairs`): distinct per-doc
    * fingerprint hashes, doc-frequency cap (the stop-fingerprint rule),
    * ordered pair join, shared-fingerprint counts. Shared by the pair
    * oracle and the split-leakage oracle.
    */
  private lazy val winnowPairsCte: String = winnowFpCte +
    """, dh AS (SELECT DISTINCT doc_id, winmin FROM fp),
      |hdf AS (
      |  SELECT winmin, count(*) AS df FROM dh GROUP BY 1),
      |dhf AS (
      |  SELECT dh.doc_id, dh.winmin FROM dh JOIN hdf USING (winmin)
      |  WHERE hdf.df BETWEEN 2 AND 50),
      |wpairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    count(*) AS shared_fps
      |  FROM dhf a JOIN dhf b
      |    ON a.winmin = b.winmin AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |""".stripMargin

  private lazy val winnowPairsOracleSql: String = winnowPairsCte +
    """SELECT doc_a, doc_b, shared_fps FROM wpairs
      |ORDER BY shared_fps DESC, doc_a, doc_b""".stripMargin

  /** Split-leakage oracle: the winnow candidate pairs joined to each
    * side's content-hash split assignment (the doc_splits rule), kept
    * where the sides straddle different splits.
    */
  private lazy val splitLeakageOracleSql: String = winnowPairsCte +
    s""", sp AS (
      |  SELECT doc_id,
      |    CASE WHEN bucket < 80 THEN 'train'
      |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |  FROM (
      |    SELECT doc_id,
      |      list_reduce(
      |        list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(1, length(text) + 1),
      |                         i -> CAST(ascii(text[i]) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007) % 100 AS bucket
      |    FROM documents WHERE $asciiGuard))
      |SELECT sa.split AS split_a, sb.split AS split_b,
      |  count(*) AS n_pairs,
      |  CAST(sum(shared_fps) AS BIGINT) AS total_shared_fps,
      |  CAST(max(shared_fps) AS BIGINT) AS max_shared_fps
      |FROM wpairs
      |JOIN sp sa ON doc_a = sa.doc_id
      |JOIN sp sb ON doc_b = sb.doc_id
      |WHERE sa.split <> sb.split
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** One table's fingerprint row: pipe-join the canonical column forms,
    * hash each row with the RollingHash polynomial ((a*31+b) mod 1e9+7
    * over ASCII codes — same per-char fold as the doc_fingerprints
    * oracle), then count / coalesced-sum-mod-p / min / max. `where` lets
    * the documents table carry the mandatory asciiGuard: the engine folds
    * UTF-8 BYTES while this oracle folds codepoints, so a non-ASCII row
    * must surface as a LOUD n_rows mismatch, never a silent checksum
    * divergence (the repo-wide ascii()/ord() oracle rule).
    */
  private def fpOracle(table: String, serCols: Seq[String],
      where: String = ""): String = {
    // every cell null-coalesces to the \N sentinel (lockstep with
    // DataQuality.ser) so rows with NULLs still hash
    val s = serCols.map(c => s"COALESCE($c, '\\N')").mkString(" || '|' || ")
    val guard = if (where.isEmpty) "" else s" WHERE $where"
    s"""SELECT '$table' AS table_name, count(*) AS n_rows,
       |  CAST(COALESCE(sum(CAST(h AS HUGEINT)), 0) % 1000000007 AS BIGINT)
       |    AS checksum_mod,
       |  min(h) AS min_hash, max(h) AS max_hash
       |FROM (SELECT list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length(s) + 1),
       |                     i -> CAST(ascii(s[i]) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % 1000000007) AS h
       |  FROM (SELECT $s AS s FROM $table$guard))""".stripMargin
  }

  /** DuckDB recursive-CTE prefix shared by the cluster oracles: verified
    * near-dup pairs -> bidirectional edges -> reach(v, r) transitive
    * closure (min reachable id == component label).
    */
  private val clustersCte: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(string_split(text, ' ')) - 1),
      |    i -> string_split(text, ' ')[i] || ' ' ||
      |         string_split(text, ' ')[i+1] || ' ' ||
      |         string_split(text, ' ')[i+2]))) AS shingle
      |  FROM documents),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b FROM p0
      |          JOIN sizes sa ON doc_a = sa.doc_id
      |          JOIN sizes sb ON doc_b = sb.doc_id
      |          WHERE c / (sa.n + sb.n - c) >= 0.5),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(v, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.v)
      |""".stripMargin

  /** DuckDB CTE shared by the multimodal oracles: the FNV-1a 64-bit fold of
    * each document's bytes, as HUGEINT mod 2^64 (`hu` unsigned, `hs` the
    * two's-complement signed view matching the JVM Long).
    */
  private val multimodalMetaCte: String =
    s"""WITH p AS (
      |  SELECT doc_id, length(text) AS n_bytes,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        list_transform(range(1, length(text)+1),
      |                       i -> ord(substr(text, i, 1))::HUGEINT)),
      |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                % 18446744073709551616::HUGEINT
      |    ) AS hu
      |  FROM documents WHERE $asciiGuard
      |), m AS (
      |  SELECT doc_id, n_bytes, hu,
      |    CASE WHEN hu >= 9223372036854775808::HUGEINT
      |         THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS hs
      |  FROM p
      |)
      |""".stripMargin

  /** Shared audio-oracle prefix: regenerate the deterministic int16 PCM
    * (`s_i = (doc_id·7 + i·193) mod 65536 − 32768`, n = 64 + doc_id mod 97
    * — the [[graft.multimodal.Multimodal.wavSample]] contract), cut it
    * into 65 integer-boundary frames and compute exact absolute-amplitude
    * frame energies. The doc×frame grid LEFT JOIN keeps frames with no
    * samples (n < 65) at energy 0, matching the engine's zero-initialized
    * energy array.
    */
  /** Shared video-oracle prefix: sampled frame ids (stride 2 over
    * `4 + doc_id mod 7` frames, frame k = image id `doc_id·131 + k·17`),
    * per-frame 9×8 dHash replay from the pixel formula, signed wrap,
    * per-bit majority count, HUGEINT signature assembly (`sigh.h`).
    */
  private val videoSigCte: String =
    """WITH vd AS (
      |  SELECT doc_id, 4 + doc_id % 7 AS nf FROM documents),
      |fr AS (
      |  SELECT doc_id, k, doc_id * 131 + k * 17 AS v
      |  FROM vd, range(10) t(k) WHERE k < nf AND k % 2 = 0),
      |fdims AS (
      |  SELECT doc_id, k, v, 8 + v % 13 AS w, 8 + v % 11 AS h FROM fr),
      |fcells AS (
      |  SELECT doc_id, k, xt, yt,
      |    (v + 31 * ((xt * w) // 9) + 17 * ((yt * h) // 8)) % 256 AS g
      |  FROM fdims, (SELECT unnest(range(0, 9)) AS xt),
      |              (SELECT unnest(range(0, 8)) AS yt)),
      |fph AS (
      |  SELECT a.doc_id, a.k,
      |    sum(CASE WHEN b.g > a.g
      |        THEN (1::HUGEINT << (a.yt * 8 + a.xt)) ELSE 0::HUGEINT END) AS hfp
      |  FROM fcells a JOIN fcells b
      |    ON a.doc_id = b.doc_id AND a.k = b.k AND a.yt = b.yt
      |       AND b.xt = a.xt + 1
      |  WHERE a.xt < 8
      |  GROUP BY 1, 2),
      |fsig AS (
      |  SELECT doc_id, k,
      |    CAST(CASE WHEN hfp >= 9223372036854775808::HUGEINT
      |         THEN hfp - 18446744073709551616::HUGEINT ELSE hfp END AS BIGINT)
      |      AS fh
      |  FROM fph),
      |bits AS (
      |  SELECT doc_id, b,
      |    count(*) FILTER (WHERE ((fh >> b) & 1) = 1) AS cnt,
      |    count(*) AS nfr
      |  FROM fsig, (SELECT unnest(range(0, 64)) AS b)
      |  GROUP BY 1, 2),
      |sigh AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN 2 * cnt > nfr
      |        THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS h
      |  FROM bits GROUP BY 1)
      |""".stripMargin

  /** The cross-modal gate chain (sans `WITH`): audio envelope hash, image
    * dHash, md5(text), then the five cumulative gate flags f1..f5 on `g5`
    * — shared by the funnel oracle and as the prefix that retables the
    * training-manifest oracle onto the funnel survivors.
    */
  /** The three-fingerprint chain alone (sans `WITH`, through `fps`):
    * audio envelope hash `afp`, image dHash `dh`, text digest `th` per
    * doc — the reusable prefix of [[crossmodalGateCtes]] and of the
    * incremental (arrival-vs-corpus) oracle.
    */
  private lazy val crossmodalFpCtes: String =
    audioEnergyCte.stripPrefix("WITH ").stripSuffix("\n") +
      """,
        |afph AS (
        |  SELECT a.doc_id,
        |    sum(CASE WHEN b.e > a.e
        |        THEN (1::HUGEINT << a.f) ELSE 0::HUGEINT END) AS h
        |  FROM ener a JOIN ener b ON a.doc_id = b.doc_id AND b.f = a.f + 1
        |  WHERE a.f < 64
        |  GROUP BY 1),
        |afpt AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |         THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |      AS afp
        |  FROM afph),
        |dims AS (
        |  SELECT doc_id, 8 + doc_id % 13 AS w, 8 + doc_id % 11 AS h
        |  FROM documents),
        |dcells AS (
        |  SELECT doc_id, xt, yt,
        |    (doc_id + 31 * ((xt * w) // 9) + 17 * ((yt * h) // 8)) % 256 AS g
        |  FROM dims, (SELECT unnest(range(0, 9)) AS xt),
        |             (SELECT unnest(range(0, 8)) AS yt)),
        |dfph AS (
        |  SELECT a.doc_id,
        |    sum(CASE WHEN b.g > a.g
        |        THEN (1::HUGEINT << (a.yt * 8 + a.xt)) ELSE 0::HUGEINT END) AS hfp
        |  FROM dcells a JOIN dcells b
        |    ON a.doc_id = b.doc_id AND a.yt = b.yt AND b.xt = a.xt + 1
        |  WHERE a.xt < 8
        |  GROUP BY 1),
        |dht AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN hfp >= 9223372036854775808::HUGEINT
        |         THEN hfp - 18446744073709551616::HUGEINT ELSE hfp END AS BIGINT)
        |      AS dh
        |  FROM dfph),
        |fps AS (
        |  SELECT d.doc_id, a.afp, i.dh, md5(d.text) AS th
        |  FROM documents d JOIN afpt a ON d.doc_id = a.doc_id
        |  JOIN dht i ON d.doc_id = i.doc_id)""".stripMargin

  private lazy val crossmodalGateCtes: String =
    crossmodalFpCtes +
      """,
        |f1t AS (
        |  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY afp) AS f1
        |  FROM fps),
        |b1 AS (
        |  SELECT doc_id, afp, b,
        |    (afp >> (b * 21)) &
        |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
        |  FROM f1t, (SELECT unnest(range(0, 3)) AS b) WHERE f1),
        |d1 AS (
        |  SELECT DISTINCT y.doc_id, 1 AS da FROM b1 x JOIN b1 y
        |    ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.afp, y.afp)) <= 2),
        |g2 AS (
        |  SELECT f1t.*, f1 AND da IS NULL AS f2
        |  FROM f1t LEFT JOIN d1 ON f1t.doc_id = d1.doc_id),
        |g3 AS (
        |  SELECT *, f2 AND doc_id =
        |      min(CASE WHEN f2 THEN doc_id END) OVER (PARTITION BY dh) AS f3
        |  FROM g2),
        |b3 AS (
        |  SELECT doc_id, dh, b,
        |    (dh >> (b * 21)) &
        |      (CASE WHEN b = 2 THEN 4194303 ELSE 2097151 END) AS bkey
        |  FROM g3, (SELECT unnest(range(0, 3)) AS b) WHERE f3),
        |d3 AS (
        |  SELECT DISTINCT y.doc_id, 1 AS di FROM b3 x JOIN b3 y
        |    ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.dh, y.dh)) <= 2),
        |g4 AS (
        |  SELECT g3.*, f3 AND di IS NULL AS f4
        |  FROM g3 LEFT JOIN d3 ON g3.doc_id = d3.doc_id),
        |g5 AS (
        |  SELECT *, f4 AND doc_id =
        |      min(CASE WHEN f4 THEN doc_id END) OVER (PARTITION BY th) AS f5
        |  FROM g4)""".stripMargin

  private val audioEnergyCte: String =
    """WITH docs AS (
      |  SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
      |esum AS (
      |  SELECT d.doc_id, fr.f,
      |    sum(abs((d.doc_id * 7 + t.i * 193) % 65536 - 32768)) AS e
      |  FROM docs d, range(65) fr(f), range(161) t(i)
      |  WHERE t.i >= fr.f * d.n // 65 AND t.i < (fr.f + 1) * d.n // 65
      |  GROUP BY 1, 2),
      |ener AS (
      |  SELECT g.doc_id, g.f, COALESCE(s.e, 0) AS e
      |  FROM (SELECT doc_id, f FROM docs, range(65) fr(f)) g
      |  LEFT JOIN esum s ON g.doc_id = s.doc_id AND g.f = s.f)
      |""".stripMargin
}
