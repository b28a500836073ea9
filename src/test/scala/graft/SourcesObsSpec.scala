package graft

import graft.obs.Metrics
import graft.operators.AsOfJoin
import graft.sources.Sources
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class SourcesObsSpec extends SparkTestBase {
  import spark.implicits._

  /** Drop an in-memory Derby database, deadlock-safe. The r10 judge run
    * caught a page-latch deadlock: `drop=true` runs an engine-shutdown
    * checkpoint, and if any executor task is still mid-write (a Spark
    * task retry / zombie sibling after a failed job), the checkpoint and
    * the writer park on each other's page latches FOREVER (latches have
    * no timeout) — the suite wedges instead of failing. So: (1) quiesce
    * Spark first — cancel and await all active jobs so no executor holds
    * a latch when the shutdown starts (suites run sequentially in the
    * forked test JVM, so cancelAllJobs cannot hit a sibling suite);
    * (2) run the drop on a bounded daemon thread so any future hang
    * surfaces as a red assertion in 30 s, not a 55-minute CI wedge.
    */
  private def dropDerby(dbName: String): Unit = {
    spark.sparkContext.cancelAllJobs()
    val deadline = System.currentTimeMillis() + 30000
    while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
    }
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      s"Spark jobs still active before Derby drop of $dbName")
    val dropper = new Thread(() => {
      // in-memory Derby drops the db on this special shutdown URL;
      // SQLException 08006 == success
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true")
      catch { case _: java.sql.SQLException => () }
      ()
    }, s"derby-drop-$dbName")
    dropper.setDaemon(true)
    dropper.start()
    dropper.join(30000)
    assert(!dropper.isAlive,
      s"Derby drop of $dbName hung >30s (engine-shutdown latch deadlock)")
  }

  /** The listener bus is async; poll until the metric lands. */
  private def awaitMetric(
      l: Metrics.ObservedMetricsListener, name: String,
      timeoutMs: Long = 10000): Option[(String, Map[String, Any])] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var found = l.collected.find(_._1 == name)
    while (found.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      found = l.collected.find(_._1 == name)
    }
    found
  }

  test("JSON parse is permissive: corrupt records counted and dropped (S2/S3)") {
    val listener = Metrics.registerBatchListener(spark)
    try {
      val raw = Seq(
        """{"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 7, "event_type": "click", "value": 1.5, "props": "{}"}""",
        """not json at all""",
        """{"event_id": 2, "ts": "2024-01-01T11:00:00", "user_id": 8, "event_type": "view", "value": null, "props": null}""",
        // a required key missing (S3 "missing key -> error"): corrupt too
        """{"event_id": 3, "ts": "2024-01-01T12:00:00", "event_type": "view", "value": 2.0, "props": null}"""
      ).toDF("value")
      val parsed = Sources.parseJsonEvents(raw)
      val rows = parsed.collect()
      assert(rows.length == 2)
      assert(rows.map(_.getAs[Long]("event_id")).toSet == Set(1L, 2L))
      // observe() metric captured by the listener
      val m = awaitMetric(listener, "json_parse")
      assert(m.isDefined, s"metrics: ${listener.collected}")
      assert(m.get._2("corrupt_records") == 2L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("CSV parse is permissive: malformed lines counted and dropped (S2/S3)") {
    import org.apache.spark.sql.types._
    val listener = Metrics.registerBatchListener(spark)
    try {
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("user_id", LongType)))
      val raw = Seq(
        "1,click,7",
        "not_a_long,truncated",
        "2,view,8").toDF("value")
      val parsed = Sources.parseCsvEvents(raw, schema)
      val rows = parsed.collect()
      assert(rows.length == 2)
      assert(rows.map(_.getAs[Long]("event_id")).toSet == Set(1L, 2L))
      assert(rows.map(_.getAs[String]("event_type")).toSet == Set("click", "view"))
      val m = awaitMetric(listener, "csv_parse")
      assert(m.isDefined, s"metrics: ${listener.collected}")
      assert(m.get._2("corrupt_records") == 1L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("observed() pipeline gauges piggyback on the action") {
    val listener = Metrics.registerBatchListener(spark)
    try {
      val n = Metrics.observed(Tables.events(spark, sf)).count()
      assert(n == 1000)
      val m = awaitMetric(listener, "graft_pipeline")
      assert(m.isDefined)
      assert(m.get._2("events_total") == 1000L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("reference wire-format events (UserActivityEvent JSON) parse with optional fields") {
    val raw = Seq(
      """{"event_id": "9f1c", "user_id": "user_42", "event_type": "page_view",
        | "timestamp": "2024-01-01T10:15:30+00:00", "session_id": "c0ff",
        | "page_url": "/products", "duration_ms": 8042, "metadata": null}""".stripMargin.replace("\n", ""),
      """{"event_id": "ab01", "user_id": "user_7", "event_type": "search",
        | "timestamp": "2024-01-01T11:00:00+00:00", "session_id": "d00d",
        | "metadata": {"query": "sample_query_3"}}""".stripMargin.replace("\n", "")
    ).toDF("value")
    val parsed = Sources.parseJsonEvents(raw, Sources.userActivityEventSchema)
      .withColumn("ts", to_timestamp(col("timestamp")))
    val rows = parsed.orderBy("event_id").collect()
    assert(rows.length == 2)
    val pageView = rows(0) // "9f1c" < "ab01"
    val search = rows(1)
    assert(pageView.getAs[String]("page_url") == "/products")
    assert(pageView.getAs[Long]("duration_ms") == 8042L)
    assert(pageView.isNullAt(pageView.fieldIndex("metadata")))
    assert(search.getAs[String]("page_url") == null)        // optional absent
    assert(search.getAs[Map[String, String]]("metadata")("query") == "sample_query_3")
    assert(rows.forall(!_.isNullAt(rows(0).fieldIndex("ts"))))
  }

  test("as-of join picks the latest order at-or-before the event (inclusive ties)") {
    val orders = Seq(
      (100L, 1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (200L, 1L, Timestamp.valueOf("2024-01-05 00:00:00")),
      (300L, 2L, Timestamp.valueOf("2024-06-01 00:00:00"))  // after all events
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val events = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-03 12:00:00")),   // -> order 100
      (2L, 1L, Timestamp.valueOf("2024-01-05 00:00:00")),   // tie -> order 200
      (3L, 1L, Timestamp.valueOf("2024-02-01 00:00:00")),   // -> order 200
      (4L, 2L, Timestamp.valueOf("2024-01-01 00:00:00"))    // no prior -> dropped
    ).toDF("event_id", "user_id", "ts")
    val got = AsOfJoin.eventsToLatestOrder(events, orders)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 100L, 2L -> 200L, 3L -> 200L))
  }

  test("as-of join plans one shuffle (union+window), not a pair-exploding join") {
    val p = AsOfJoin.eventsToLatestOrder(
      Tables.events(spark, sf), Tables.orders(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("S6: partitioned JDBC read round-trips a served aggregate (embedded Derby)") {
    // Spark ships Derby (for the Hive metastore), so the JDBC source path
    // can run against a REAL JDBC engine in-process — no external DB. An
    // in-memory database stands in for the reference's served Postgres
    // table; the read must split into range partitions, not one query.
    val url = "jdbc:derby:memory:graft_s6;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE agg (id BIGINT NOT NULL, event_type VARCHAR(16), event_count BIGINT)")
      val ins = conn.prepareStatement("INSERT INTO agg VALUES (?, ?, ?)")
      (0 until 97).foreach { i =>
        ins.setLong(1, i.toLong); ins.setString(2, s"t${i % 5}"); ins.setLong(3, (i * 7).toLong)
        ins.executeUpdate(): Unit
      }
      val df = Sources.jdbcTable(spark, url, "agg",
        partitionColumn = "id", lower = 0L, upper = 97L, numPartitions = 4)
      // correctness: full round-trip, no row lost or duplicated at the
      // partition-range boundaries
      assert(df.count() == 97)
      assert(df.agg(sum(col("event_count"))).head.getLong(0) == (0 until 97).map(_ * 7L).sum)
      assert(df.select("id").distinct().count() == 97)
      // parallelism: the scan is genuinely range-partitioned
      assert(df.rdd.getNumPartitions == 4)
      // pushdown: predicates and the projection must reach the JDBC source
      // (the reference delegates ALL filtering to Postgres,
      // api/src/infrastructure/database.py:95-97 — a scan that ships every
      // row to Spark and filters there re-reads the whole served table).
      val filtered = Sources.jdbcTable(spark, url, "agg",
          partitionColumn = "id", lower = 0L, upper = 97L, numPartitions = 4)
        .filter(col("event_type") === "t1" && col("event_count") > 100L)
        .select("id", "event_count")
      // Assert against the scan node's metadata map, NOT the rendered plan
      // string: toString abbreviates each metadata value at
      // spark.sql.maxMetadataStringLength (default 100 chars), which
      // truncates the second pushed filter mid-name.
      val scanMeta = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s.metadata
      }
      assert(scanMeta.nonEmpty, filtered.queryExecution.executedPlan.toString)
      val pushed = scanMeta.head.getOrElse("PushedFilters", "").toLowerCase
      assert(pushed.contains("equalto(event_type,t1)"), pushed)
      assert(pushed.contains("greaterthan(event_count,100)"), pushed)
      // handled-by-source marker: '*' = the source evaluates it, no
      // residual Spark-side re-filter
      assert(pushed.contains("*equalto(event_type,t1)"), pushed)
      assert(pushed.contains("*greaterthan(event_count,100)"), pushed)
      val expected = (0 until 97).filter(i => i % 5 == 1 && i * 7L > 100L)
      assert(filtered.count() == expected.size)
      assert(filtered.agg(sum(col("event_count"))).head.getLong(0) ==
        expected.map(_ * 7L).sum)
    } finally {
      try conn.close() finally dropDerby("graft_s6")
    }
  }

  test("write-side MERGE upsert: ON CONFLICT DO UPDATE semantics, replay-idempotent (embedded Derby)") {
    // The reference flushes aggregates with INSERT ... ON CONFLICT
    // (window_start, event_type) DO UPDATE SET col = EXCLUDED.col
    // (upsert_aggregation.sql:1-19). upsertJdbc spells that as ANSI MERGE
    // and must (a) insert fresh keys, (b) OVERWRITE matched keys with the
    // incoming batch's values (LWW), (c) leave state unchanged on an
    // at-least-once replay of the same batch, (d) survive multi-partition
    // writes and sub-batchSize chunking.
    import spark.implicits._
    val url = "jdbc:derby:memory:graft_merge;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        """CREATE TABLE hourly_agg (
          |  window_start BIGINT NOT NULL,
          |  event_type VARCHAR(16) NOT NULL,
          |  event_count BIGINT,
          |  total_value DOUBLE,
          |  created_at BIGINT,
          |  PRIMARY KEY (window_start, event_type))""".stripMargin)
      def readBack(): Map[(Long, String), (Long, Double, Long)] =
        Sources.jdbcTable(spark, url, "hourly_agg",
            partitionColumn = "window_start", lower = 0L, upper = 10L,
            numPartitions = 2)
          .collect()
          .map(r => (r.getLong(0), r.getString(1)) ->
            ((r.getLong(2), r.getDouble(3), r.getLong(4))))
          .toMap
      val sink = graft.streaming.StreamingAgg.jdbcUpsertSink(
        url, "hourly_agg", Seq("window_start", "event_type"))

      // flush 1: five fresh keys across 4 partitions, batchSize default
      val b1 = Seq(
        (0L, "click", 10L, 1.5), (0L, "view", 20L, 2.5),
        (1L, "click", 30L, 3.5), (1L, "purchase", 40L, 4.5),
        (2L, "view", 50L, 5.5))
        .toDF("window_start", "event_type", "event_count", "total_value")
        .repartition(4)
      sink(b1, 1L)
      val s1 = readBack()
      assert(s1.size == 5)
      assert(s1((0L, "click")) == ((10L, 1.5, 1L)))
      assert(s1((2L, "view")) == ((50L, 5.5, 1L)))

      // flush 2: two conflicting keys (updated counts) + one new key —
      // matched rows take the EXCLUDED (new) values, reference LWW
      val b2 = Seq(
        (0L, "click", 11L, 9.9), (1L, "purchase", 44L, 8.8),
        (3L, "click", 60L, 6.5))
        .toDF("window_start", "event_type", "event_count", "total_value")
      sink(b2, 2L)
      val s2 = readBack()
      assert(s2.size == 6)
      assert(s2((0L, "click")) == ((11L, 9.9, 2L))) // overwritten
      assert(s2((1L, "purchase")) == ((44L, 8.8, 2L))) // overwritten
      assert(s2((1L, "click")) == ((30L, 3.5, 1L))) // untouched
      assert(s2((3L, "click")) == ((60L, 6.5, 2L))) // inserted

      // at-least-once replay of flush 2 (same batchId): state unchanged
      sink(b2, 2L)
      assert(readBack() == s2)

      // chunking: 7 rows through batchSize=3 exercises mid-stream
      // executeBatch plus the trailing partial batch
      val b3 = (0 until 7).map(i => (i.toLong, "bulk", i * 2L, i * 0.5, 3L))
        .toDF("window_start", "event_type", "event_count", "total_value",
          "created_at")
      Sources.upsertJdbc(b3, url, "hourly_agg",
        Seq("window_start", "event_type"), batchSize = 3)
      val s3 = readBack()
      assert(s3.size == 13)
      assert(s3((6L, "bulk")) == ((12L, 3.0, 3L)))
      assert(s3 == s2 ++ s3.filter(_._1._2 == "bulk")) // others untouched
    } finally {
      try conn.close() finally dropDerby("graft_merge")
    }
  }

  test("upsertStatement is dialect-keyed: PG gets the reference's native ON CONFLICT spelling") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("window_start", TimestampType), StructField("window_end", TimestampType),
      StructField("event_type", StringType), StructField("event_count", LongType),
      StructField("unique_user_count", LongType), StructField("unique_session_count", LongType),
      StructField("total_duration_ms", LongType), StructField("avg_duration_ms", DoubleType),
      StructField("created_at", TimestampType)))
    val keys = Seq("window_start", "event_type")

    // Postgres URL → the reference's upsert_aggregation.sql:1-19 shape:
    // INSERT … ON CONFLICT (window_start, event_type) DO UPDATE SET
    // col = EXCLUDED.col for every non-key column, parameterized row.
    val pg = Sources.upsertStatement(
      "jdbc:postgresql://db:5432/pipeline", "hourly_aggregations", schema, keys)
    val expectedPg =
      """INSERT INTO hourly_aggregations (window_start, window_end, event_type, event_count, unique_user_count, unique_session_count, total_duration_ms, avg_duration_ms, created_at)
        |VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)
        |ON CONFLICT (window_start, event_type)
        |DO UPDATE SET
        |    window_end = EXCLUDED.window_end,
        |    event_count = EXCLUDED.event_count,
        |    unique_user_count = EXCLUDED.unique_user_count,
        |    unique_session_count = EXCLUDED.unique_session_count,
        |    total_duration_ms = EXCLUDED.total_duration_ms,
        |    avg_duration_ms = EXCLUDED.avg_duration_ms,
        |    created_at = EXCLUDED.created_at""".stripMargin
    assert(pg.sql == expectedPg, pg.sql)
    // PG param layout: the insert row once, in schema column order
    assert(pg.paramFields.map(_.name) == schema.fieldNames.toSeq)

    // Derby/DB2 → MERGE with their one-row SYSIBM dummy
    val derby = Sources.upsertStatement(
      "jdbc:derby:memory:x", "hourly_aggregations", schema, keys)
    assert(derby.sql.contains("MERGE INTO hourly_aggregations t USING SYSIBM.SYSDUMMY1"), derby.sql)
    assert(derby.sql.contains("WHEN MATCHED THEN UPDATE SET"), derby.sql)
    // MERGE param layout: keys (ON), non-keys (UPDATE), all (INSERT)
    assert(derby.paramFields.map(_.name) == keys ++ Seq(
      "window_end", "event_count", "unique_user_count", "unique_session_count",
      "total_duration_ms", "avg_duration_ms", "created_at") ++
      schema.fieldNames.filter(n => keys.contains(n)) ++
      schema.fieldNames.filterNot(n => keys.contains(n)))

    // anything else → standard (VALUES (1)) one-row MERGE source
    val ansi = Sources.upsertStatement(
      "jdbc:h2:mem:x", "hourly_aggregations", schema, keys)
    assert(ansi.sql.contains("USING (VALUES (1)) AS dual(x)"), ansi.sql)

    // identifier injection is rejected, for table and column names alike
    intercept[IllegalArgumentException] {
      Sources.upsertStatement("jdbc:derby:memory:x",
        "agg; DROP TABLE users", schema, keys)
    }
    intercept[IllegalArgumentException] {
      Sources.upsertStatement("jdbc:derby:memory:x", "agg",
        StructType(Seq(StructField("a", LongType), StructField("b\"; --", LongType))),
        Seq("a"))
    }
    // schema-qualified table names stay legal
    val qualified = Sources.upsertStatement(
      "jdbc:postgresql://db/p", "analytics.hourly_aggregations", schema, keys)
    assert(qualified.sql.startsWith("INSERT INTO analytics.hourly_aggregations ("))
  }

  test("ORC round-trip: events survive the other columnar wire format") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    try {
      // deterministic subset: a bare limit() re-evaluates to a possibly
      // different 500 rows on each plan execution (latent flake)
      val ev = Tables.events(spark, sf).orderBy(col("event_id")).limit(500)
      ev.write.mode("overwrite").orc(dir)
      val back = graft.sources.Sources.eventsFromOrc(spark, dir)
      assert(back.schema.fieldNames.toSeq == ev.schema.fieldNames.toSeq)
      assert(back.count() == ev.count())
      // per-type aggregates identical through the round trip
      val agg = (df: org.apache.spark.sql.DataFrame) =>
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("ids"))
          .orderBy(col("event_type")).collect().toSeq
      assert(agg(back) == agg(ev))
      // predicate pushdown reaches the ORC scan
      val plan = back.filter(col("user_id") === 7L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("user_id"), plan)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
