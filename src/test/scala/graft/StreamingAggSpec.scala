package graft

import graft.operators.HourlyAggregation
import graft.streaming.StreamingAgg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class Doc(doc_id: Long, ingest_ts: Timestamp, text: String, source: String)

class StreamingAggSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(id: Long, t: String, u: Long, typ: String, v: Double) =
    Ev(id, Timestamp.valueOf(t), u, typ, v)

  test("streaming hourly agg (complete mode) matches batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val events = Seq(
      ev(1, "2024-01-01 10:05:00", 1, "click", 2.0),
      ev(2, "2024-01-01 10:15:00", 2, "click", 3.5),
      ev(3, "2024-01-01 10:55:00", 1, "view", 1.25),
      ev(4, "2024-01-01 11:05:00", 3, "click", 4.0),
      ev(5, "2024-01-01 11:20:00", 1, "click", 0.75))
    mem.addData(events: _*)

    val agg = StreamingAgg.hourlyAggStream(spark, mem.toDF())
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_agg_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_agg_out")
        .orderBy("window_start", "event_type")
        .collect()
      val expected = HourlyAggregation(events.toDF())
        .orderBy("window_start", "event_type")
        .collect()
      assert(got.length == expected.length)
      got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
    } finally q.stop()
  }

  test("watermark append mode: a window emits only after the watermark passes it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamingAgg.hourlyAggStream(spark, mem.toDF(), grace = "60 seconds")
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_append_out")
      .start()
    try {
      mem.addData(ev(1, "2024-01-01 10:05:00", 1, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("stream_append_out").isEmpty,
        "window must not emit before watermark passes")
      // event at 11:01:05 pushes watermark to > 10:00 + 1h + 60s grace? no:
      // watermark = max_ts - (1h + 60s); needs max_ts > 12:01:00
      mem.addData(ev(2, "2024-01-01 12:01:30", 2, "view", 1.0))
      q.processAllAvailable()
      // one more batch so the advanced watermark finalizes the 10:00 window
      mem.addData(ev(3, "2024-01-01 12:02:00", 2, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("stream_append_out").collect()
      assert(rows.length == 1, rows.mkString(";"))
      assert(rows.head.getAs[Timestamp]("window_start") == Timestamp.valueOf("2024-01-01 10:00:00"))
      assert(rows.head.getAs[Long]("unique_user_count") == 1L)
    } finally q.stop()
  }

  test("processing-time grace: wall-clock reap, late reopen, LWW overwrite (reference parity)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dir = java.nio.file.Files.createTempDirectory("graft_grace").toString + "/agg"
    // events live in a long-past hour, so vs the WALL clock the window is
    // already beyond end+grace — the reap is due at the next micro-batch
    val flushed = StreamingAgg.processingTimeGraceStream(
      spark, mem.toDF(), graceMs = 100L)
    val q = flushed.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .foreachBatch((b: org.apache.spark.sql.Dataset[StreamingAgg.GraceFlushRec], id: Long) =>
        StreamingAgg.upsertBatch(spark, b.toDF(), dir, id))
      .start()
    // NOTE: no processAllAvailable() anywhere in this test — with
    // processing-time timers pending, FlatMapGroupsWithStateExec keeps
    // constructing (no-data) batches so the stream NEVER reports
    // quiescence and processAllAvailable blocks forever. The same spin
    // also ingests newly-added MemoryStream data, so polling the sink
    // is both necessary and sufficient.
    def table() =
      try spark.read.parquet(dir).filter(col("event_type") === "click").collect()
      catch { case _: Throwable => Array.empty[org.apache.spark.sql.Row] }
    def awaitClick(pred: Array[org.apache.spark.sql.Row] => Boolean): Array[org.apache.spark.sql.Row] = {
      val deadline = System.nanoTime() + 60e9.toLong
      var rows = table()
      while (!pred(rows) && System.nanoTime() < deadline) {
        Thread.sleep(200); rows = table()
      }
      rows
    }
    try {
      val full = Seq(
        ev(1, "2024-01-01 10:05:00", 1, "click", 2.0),
        ev(2, "2024-01-01 10:15:00", 2, "click", 3.0),
        ev(3, "2024-01-01 10:40:00", 1, "click", 1.0))
      mem.addData(full: _*)
      // reap fires on a later batch once wall clock passes the due time
      val first = awaitClick(_.nonEmpty)
      assert(first.length == 1, first.mkString(";"))
      assert(first.head.getAs[Long]("event_count") == 3L)
      assert(first.head.getAs[Long]("unique_user_count") == 2L)
      assert(first.head.getAs[Double]("total_value") == 6.0)

      // LATE event for the reaped window: the reference re-opens a FRESH
      // window (aggregation.py:53-58 — no memory of flushed counts) ...
      val late = ev(4, "2024-01-01 10:50:00", 7, "click", 9.0)
      mem.addData(late)
      // ... and its eventual flush OVERWRITES the stored row via the
      // ON CONFLICT DO UPDATE upsert (upsert_aggregation.sql:13-19)
      val reaped = awaitClick(rs =>
        rs.length == 1 && rs.head.getAs[Long]("event_count") == 1L)
      assert(reaped.length == 1, reaped.mkString(";"))
      assert(reaped.head.getAs[Long]("event_count") == 1L,
        "late reopen must overwrite with the late-only counts")
      assert(reaped.head.getAs[Long]("unique_user_count") == 1L)
      assert(reaped.head.getAs[Double]("total_value") == 9.0)

      // side by side: the event-time/batch-canonical semantics would have
      // MERGED the late event into the full window instead
      val batch = HourlyAggregation((full :+ late).toDF())
        .filter(col("event_type") === "click").collect()
      assert(batch.head.getAs[Long]("event_count") == 4L,
        "canonical batch semantics merge the late event (4), the " +
          "reference's wall-clock reap ends at late-only (1)")
    } finally q.stop()
  }

  test("streaming session_window (append) matches batch sessionWindows on closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val real = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      ev(2, "2024-01-01 10:20:00", 1, "click", 2.0),
      ev(3, "2024-01-01 11:30:00", 1, "view", 3.0),   // new session (> gap)
      ev(4, "2024-01-01 10:05:00", 2, "purchase", 5.5))
    val agg = StreamingAgg.sessionWindowStream(mem.toDF())
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("session_stream_out").start()
    try {
      mem.addData(real: _*)
      q.processAllAvailable()
      // sentinel far past every session end pushes the watermark so all
      // real sessions close and emit; its own (open) session must not
      mem.addData(ev(99, "2024-01-03 00:00:00", 9, "view", 0.0))
      q.processAllAvailable()
      mem.addData(ev(100, "2024-01-03 00:00:01", 9, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("session_stream_out")
        .filter(col("user_id") =!= 9)
        .orderBy("user_id", "session_start").collect()
      val expected = graft.operators.Sessionize.sessionWindows(real.toDF())
        .collect()
      assert(got.length == expected.length, s"${got.toSeq} vs ${expected.toSeq}")
      got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
    } finally q.stop()
  }

  test("streaming hopping windows (append) match batch slidingWindowCounts on closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val real = Seq(
      ev(1, "2024-01-01 10:07:00", 1, "view", 1.0),
      ev(2, "2024-01-01 10:22:00", 2, "click", 2.0),
      ev(3, "2024-01-01 10:47:00", 1, "view", 4.0))
    val agg = StreamingAgg.slidingCountsStream(spark, mem.toDF())
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sliding_stream_out").start()
    try {
      mem.addData(real: _*)
      q.processAllAvailable()
      mem.addData(ev(99, "2024-01-02 00:00:00", 9, "view", 0.0))
      q.processAllAvailable()
      mem.addData(ev(100, "2024-01-02 00:00:01", 9, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("sliding_stream_out")
        .filter(col("window_start") < to_timestamp(lit("2024-01-01 23:00:00")))
        .orderBy("window_start").collect()
      val expected = graft.queries.Analytics.slidingWindowCounts(real.toDF())
        .collect()
      assert(got.length == expected.length, s"${got.toSeq} vs ${expected.toSeq}")
      got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
    } finally q.stop()
  }

  test("full pipeline: file stream -> windowed agg -> foreachBatch upsert == batch result") {
    val root = java.nio.file.Files.createTempDirectory("graft_e2e").toFile
    val srcDir = new java.io.File(root, "src").getAbsolutePath
    val target = new java.io.File(root, "agg").getAbsolutePath

    // stage the real events table as the streaming source, in two chunks
    // (files arriving over time), mimicking the Kafka-fed ingest
    val ev = Tables.events(spark, sf).cache()
    ev.filter(col("event_id") % 2 === 0).write.parquet(srcDir)

    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val agg = StreamingAgg.hourlyAggStream(spark, stream)
    val q = agg.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingAgg.upsertBatch(spark, batch, target, id)
      }
      .start()
    try {
      q.processAllAvailable()
      ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(target)
      .drop("created_at")
      .orderBy("window_start", "event_type")
      .collect()
    val batch = graft.operators.HourlyAggregation(ev)
      .orderBy("window_start", "event_type")
      .collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s != $b") }
    ev.unpersist()
  }

  test("streaming incremental regeneration: stream == batch stages over the same arrivals") {
    implicit val sqlCtx = spark.sqlContext
    // standing corpus: two docs whose digests must gate arrivals
    val corpusText1 = "alpha beta gamma delta"
    val corpusText2 = "epsilon zeta eta theta"
    val corpus = Seq(
      Doc(1, Timestamp.valueOf("2024-01-01 09:00:00"), corpusText1, "corp"),
      Doc(2, Timestamp.valueOf("2024-01-01 09:01:00"), corpusText2, "corp")).toDF()
    val corpusDigests = corpus
      .select(org.apache.spark.sql.functions.md5(col("text")).as("content_hash"))
      .distinct()
    val fresh1 = "iota kappa lambda mu nu xi omicron pi"
    val fresh2 = "rho sigma tau upsilon phi chi psi omega"
    val arrivals = Seq(
      Doc(10, Timestamp.valueOf("2024-01-01 10:00:00"), corpusText1, "new"), // in corpus -> dropped
      Doc(11, Timestamp.valueOf("2024-01-01 10:01:00"), fresh1, "new"),
      Doc(12, Timestamp.valueOf("2024-01-01 10:02:00"), fresh1, "new"), // batch-internal dup
      Doc(13, Timestamp.valueOf("2024-01-01 10:05:00"), fresh2, "new"),
      Doc(14, Timestamp.valueOf("2024-01-01 10:06:00"), corpusText2, "new"), // in corpus -> dropped
      Doc(15, Timestamp.valueOf("2024-01-01 10:07:00"), fresh1, "new")) // cross-batch dup
    val mem = MemoryStream[Doc]
    val q = StreamingAgg
      .incrementalRegenStream(mem.toDF(), corpusDigests)
      .writeStream.outputMode("append").format("memory")
      .queryName("incr_regen_out").start()
    try {
      // arrivals split across micro-batches; doc_id order = arrival order,
      // so first-arrival survivor == the batch rule's min-doc_id survivor
      mem.addData(arrivals(0), arrivals(1), arrivals(2))
      q.processAllAvailable()
      mem.addData(arrivals(3), arrivals(4))
      q.processAllAvailable()
      mem.addData(arrivals(5))
      q.processAllAvailable()
      val got = spark.table("incr_regen_out").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split")))
        .toSet
      // batch form of the same streamable stages (1 + 3): incremental
      // exact dedup vs the standing digests, then the stable split
      val newDf = arrivals.toDF()
      val survIds = graft.operators.Dedup
        .incrementalDedup(newDf, corpus).select(col("doc_id"))
      val bucket =
        graft.functions.GraftColumns.rollingHash(col("text")) % 100
      val batch = newDf
        .join(survIds, Seq("doc_id"), "left_semi")
        .withColumn("split",
          org.apache.spark.sql.functions.when(bucket < 80, "train")
            .when(bucket < 90, "val").otherwise("test"))
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split")))
        .toSet
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got.map(_._1) == Set(11L, 13L)) // hand-checked survivors
    } finally q.stop()
  }

  test("streaming doc curation: cross-batch digest dedup + gates match batch slice") {
    implicit val sqlCtx = spark.sqlContext
    val good1 = "the " + (1 to 50).map(i => s"w$i").mkString(" ")
    val good2 = "the " + (1 to 50).map(i => s"v$i").mkString(" ")
    val mem = MemoryStream[Doc]
    def doc(id: Long, t: String, text: String) =
      Doc(id, Timestamp.valueOf(t), text, "srcA")
    val q = StreamingAgg
      .curatedDocStream(mem.toDF(), Seq("the", "a", "of", "and"))
      .writeStream.outputMode("append").format("memory")
      .queryName("doc_curation_out").start()
    try {
      mem.addData(
        doc(1, "2024-01-01 10:00:00", good1),
        doc(2, "2024-01-01 10:01:00", "zz qq pp")) // no lang marker -> gated
      q.processAllAvailable()
      mem.addData(
        doc(3, "2024-01-01 10:05:00", good1), // cross-batch duplicate of 1
        doc(4, "2024-01-01 10:06:00", good2))
      q.processAllAvailable()
      mem.addData(doc(5, "2024-01-01 10:10:00", good1)) // still within horizon
      q.processAllAvailable()
      val got = spark.table("doc_curation_out").collect()
      // one row per surviving distinct content; dups dropped across batches
      assert(got.map(_.getAs[String]("content_hash")).distinct.length == got.length)
      assert(got.map(_.getAs[String]("text")).toSet == Set(good1, good2))
      // batch parity: same gates + dropDuplicates over the full arrival set
      val all = Seq(
        doc(1, "2024-01-01 10:00:00", good1), doc(2, "2024-01-01 10:01:00", "zz qq pp"),
        doc(3, "2024-01-01 10:05:00", good1), doc(4, "2024-01-01 10:06:00", good2),
        doc(5, "2024-01-01 10:10:00", good1)).toDF()
      val toks = split(col("text"), " ")
      val batch = all
        .filter(graft.operators.Curation.langPred(toks) =!= "und")
        .filter(graft.operators.Curation.qualityScore(toks, Seq("the", "a", "of", "and")) >= 0.5)
        .dropDuplicates("text")
      assert(batch.collect().map(_.getAs[String]("text")).toSet ==
        got.map(_.getAs[String]("text")).toSet)
    } finally q.stop()
  }

  test("RocksDB state store: doc-curation digest dedup matches the heap provider") {
    // dropDuplicatesWithinWatermark state (the 16-byte digest set) must
    // round-trip RocksDB's serialization exactly like the agg state does.
    implicit val sqlCtx = spark.sqlContext
    val good1 = "the " + (1 to 50).map(i => s"w$i").mkString(" ")
    val good2 = "the " + (1 to 50).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      Doc(1, Timestamp.valueOf("2024-01-01 10:00:00"), good1, "srcA"),
      Doc(2, Timestamp.valueOf("2024-01-01 10:03:00"), good1, "srcA"),
      Doc(3, Timestamp.valueOf("2024-01-01 10:06:00"), good2, "srcA"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    def run(tag: String): Set[String] = {
      val mem = MemoryStream[Doc]
      val q = StreamingAgg.curatedDocStream(mem.toDF(), Seq("the", "a", "of", "and"))
        .writeStream.outputMode("append").format("memory")
        .queryName(s"rocksdb_doc_$tag").start()
      try {
        docs.foreach { d => mem.addData(d); q.processAllAvailable() }
        spark.table(s"rocksdb_doc_$tag").collect()
          .map(_.getAs[String]("text")).toSet
      } finally q.stop()
    }
    try {
      val default = run("default")
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocks = run("rocks")
      assert(default == Set(good1, good2) && rocks == default)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("chained stateful ops: dedup -> windowed agg in one query, dup counted once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamingAgg.dedupedHourlyAggStream(spark, mem.toDF())
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("chained_out").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 10:05:00", 1, "click", 2.0),
        ev(1, "2024-01-01 10:05:00", 1, "click", 2.0), // same-batch dup
        ev(2, "2024-01-01 10:15:00", 2, "click", 3.5))
      q.processAllAvailable()
      mem.addData(ev(1, "2024-01-01 10:05:00", 1, "click", 2.0)) // replay
      q.processAllAvailable()
      // advance the watermark past 10:00 + 1h + grace; extra batch finalizes
      mem.addData(ev(9, "2024-01-01 12:02:00", 9, "view", 1.0))
      q.processAllAvailable()
      mem.addData(ev(10, "2024-01-01 12:03:00", 9, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("chained_out")
        .filter(col("window_start") === Timestamp.valueOf("2024-01-01 10:00:00"))
        .collect()
      assert(rows.length == 1, rows.mkString(";"))
      // the replayed event_id 1 contributes exactly once to every measure
      assert(rows.head.getAs[Long]("event_count") == 2L)
      assert(rows.head.getAs[Long]("unique_user_count") == 2L)
      assert(rows.head.getAs[Double]("total_value") == 5.5)
    } finally q.stop()
  }

  test("mixture gate runs UNCHANGED on a stream; union of batches == batch of union") {
    // the content-keyed hash gate is stateless, so the same operator body
    // streams with no watermark, no state store, and batch/stream parity
    // holds by construction — pin it
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 60L).map(i =>
      Doc(i, Timestamp.valueOf("2024-01-01 10:00:00"),
        s"tok$i " * (1 + (i % 7).toInt), s"src${i % 3}"))
    val rates = Map("src0" -> 0.8, "src1" -> 0.4, "src2" -> 0.1)
    val mem = MemoryStream[Doc]
    val q = graft.operators.Mixture.sampleBySource(mem.toDF(), rates, 0.0)
      .writeStream.outputMode("append").format("memory")
      .queryName("gate_stream_out").start()
    try {
      docs.grouped(17).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      val streamed = spark.table("gate_stream_out")
        .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
      import spark.implicits._
      val batch = graft.operators.Mixture
        .sampleBySource(docs.toDF(), rates, 0.0)
        .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops replayed event_ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingAgg.dedupEvents(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 10:05:00", 1, "click", 2.0),
        ev(1, "2024-01-01 10:05:00", 1, "click", 2.0)) // same-batch dup
      q.processAllAvailable()
      mem.addData(
        ev(1, "2024-01-01 10:05:00", 1, "click", 2.0), // cross-batch replay
        ev(2, "2024-01-01 10:06:00", 2, "view", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L), s"got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch band join") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val events = Seq(
      ev(1, "2024-01-01 09:30:00", 1, "error", 0.0),    // 30 min before purchase
      ev(2, "2024-01-01 10:00:00", 1, "purchase", 9.99),
      ev(3, "2024-01-01 11:30:00", 1, "error", 0.0),    // 90 min after: outside band
      ev(4, "2024-01-01 10:05:00", 2, "error", 0.0))    // no purchase for user 2
    val q = StreamingAgg.errorsNearPurchasesStream(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("interval_join_out").start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      val got = spark.table("interval_join_out")
        .select("error_id", "purchase_id", "gap_micros").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // same plan over the batch frame (watermarks are no-ops on batch)
      val expected = StreamingAgg.errorsNearPurchasesStream(events.toDF())
        .select("error_id", "purchase_id", "gap_micros").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected)
      assert(got == Set((1L, 2L, -1800000000L)), got.mkString(","))
    } finally q.stop()
  }

  test("O10: processing-time trigger flushes on the cadence, not per arrival") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamingAgg.hourlyAggStream(spark, mem.toDF())
    val flushes = new java.util.concurrent.atomic.AtomicInteger(0)
    // 500 ms test-scaled stand-in for the reference's 60 s flush gate
    val q = StreamingAgg.startWithFlushCadence(agg, "500 milliseconds") { (b, _) =>
      if (b.count() > 0) flushes.incrementAndGet(): Unit
    }
    val t0 = System.nanoTime()
    try {
      var i = 0
      while (i < 12) { // 12 arrivals ~100 ms apart: several per cadence tick
        mem.addData(ev(100 + i, "2024-01-01 10:05:00", i, "click", 1.0))
        Thread.sleep(100)
        i += 1
      }
      q.processAllAvailable()
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      // every arrival processed...
      assert(q.recentProgress.map(_.numInputRows).sum == 12)
      // ...but flushed in clock-cadence batches: far fewer flushes than
      // arrivals (bound derived from measured elapsed time so a slow VM
      // loosens it rather than flaking)
      val maxFlushes = (elapsedSec / 0.5).toInt + 2
      assert(flushes.get() >= 1)
      assert(flushes.get() <= maxFlushes,
        s"cadence not honored: ${flushes.get()} flushes for 12 arrivals in ${elapsedSec}s")
    } finally q.stop()
  }

  test("DistinctBuf state stays near distinct cardinality under heavy duplication") {
    // 100k observed rows over a 100-value domain: compaction must keep the
    // buffer capacity bounded by the DISTINCT set, not the row count.
    val agg = new StreamingAgg.ExactDistinctLong
    var buf = agg.zero
    val rng = new scala.util.Random(7)
    (0 until 100000).foreach(_ => buf = agg.reduce(buf, rng.nextInt(100).toLong))
    assert(agg.finish(buf) == 100L)
    assert(buf.data.length <= 512,
      s"state capacity ${buf.data.length} should be bounded by distinct cardinality, not 100k rows")
    // merge path preserves exactness and the bound
    var b2 = agg.zero
    (1000 until 1100).foreach(v => b2 = agg.reduce(b2, v.toLong))
    val m = agg.merge(buf, b2)
    assert(agg.finish(m) == 200L)
  }

  test("RocksDB state store backend: same aggregates as the default provider") {
    // The 100 TB streaming-state path: HDFSBackedStateStore holds every
    // (window, type) entry on the JVM heap; RocksDB keeps state off-heap
    // and spills to local disk, which is what makes billions of keys per
    // executor viable. Run the SAME windowed aggregation (including the
    // ExactDistinctLong UDAF whose buffer must round-trip RocksDB's
    // serialization) on both providers and require identical output.
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev(1, "2024-01-01 10:05:00", 1, "click", 2.0),
      ev(2, "2024-01-01 10:15:00", 2, "click", 3.5),
      ev(3, "2024-01-01 10:55:00", 1, "view", 1.25),
      ev(4, "2024-01-01 11:05:00", 3, "click", 4.0),
      ev(5, "2024-01-01 11:20:00", 1, "click", 0.75))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    def run(tag: String): Array[org.apache.spark.sql.Row] = {
      val mem = MemoryStream[Ev]
      mem.addData(events: _*)
      val q = StreamingAgg.hourlyAggStream(spark, mem.toDF())
        .writeStream.outputMode("complete").format("memory")
        .queryName(s"rocksdb_parity_$tag").start()
      try {
        q.processAllAvailable()
        spark.table(s"rocksdb_parity_$tag")
          .orderBy("window_start", "event_type").collect()
      } finally q.stop()
    }
    try {
      val default = run("default")
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocks = run("rocks")
      assert(rocks.length == default.length && rocks.length > 0)
      rocks.zip(default).foreach { case (r, d) => assert(r == d, s"$r != $d") }
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("cross-JVM restart: a NEW process resumes from the checkpoint exactly-once") {
    // The reference's actual crash contract (S4 x O14,
    // aggregation_service.py:157-158) is resume-from-checkpoint in a NEW
    // process. In-session replay specs share the JVM's state store
    // providers and static caches with the "crashed" query; this one forks
    // two real `java` processes (RestartHarness): #1 aggregates the even
    // half of the events table and HALTS without any shutdown, #2 starts
    // from nothing but the on-disk checkpoint + sink, and must both keep
    // #1's windows (state restore) and not recount #1's files (offset
    // restore) for the final sink to equal the batch aggregation.
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toFile
    val srcDir = new java.io.File(root, "src").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val target = new java.io.File(root, "agg").getAbsolutePath

    def runChild(): Unit = {
      val javaBin = new java.io.File(
        new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
      // reuse this (forked) test JVM's own --add-opens flags rather than
      // duplicating build.sbt's list
      import scala.jdk.CollectionConverters._
      val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .sliding(2).collect { case Seq("--add-opens", v) => Seq("--add-opens", v) }
        .flatten.toSeq
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", sys.props("java.class.path"),
        "graft.RestartHarness", srcDir, ckpt, target)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(new java.io.File(root, "child.log"))
      val p = pb.start()
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        { p.destroyForcibly(); "restart child timed out" })
      assert(p.exitValue() == 0,
        s"child failed; log tail: ${scala.io.Source.fromFile(new java.io.File(root, "child.log")).getLines().toSeq.takeRight(15).mkString("\n")}")
    }

    val ev = Tables.events(spark, sf).cache()
    ev.filter(col("event_id") % 2 === 0).write.parquet(srcDir)
    runChild() // JVM #1: processes the even half, halts mid-flight
    val afterCrash = spark.read.parquet(target)
    val maxBatchBeforeRestart = afterCrash.agg(max("created_at")).as[Long].head
    assert(afterCrash.count() > 0, "phase 1 must have flushed something")

    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(srcDir)
    runChild() // JVM #2: fresh process, resumes from the same checkpoint

    val streamed = spark.read.parquet(target)
    // batch ids continued past the crash point: the checkpoint, not a fresh
    // query, drove the second incarnation
    assert(streamed.agg(max("created_at")).as[Long].head > maxBatchBeforeRestart)
    val got = streamed.drop("created_at")
      .orderBy("window_start", "event_type").collect()
    val expected = HourlyAggregation(ev)
      .orderBy("window_start", "event_type").collect()
    assert(got.length == expected.length, s"${got.length} != ${expected.length}")
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
    ev.unpersist()
  }

  test("streaming incremental checksum: batch folds equal the whole-table fingerprint") {
    // The table_fingerprints checksum is sum-of-row-hashes mod p, so a
    // stream maintains the running table checksum WITHOUT reprocessing:
    // fingerprint each micro-batch, fold by modular addition. Three
    // uneven micro-batches must fold to exactly the batch checksum of the
    // union — the streaming face of the shard-merge identity.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val all = (1 to 30).map(i =>
      ev(i, f"2024-01-01 ${9 + i % 3}%02d:00:00", i % 5, s"t${i % 4}", i * 1.25))
    var running = 0L
    var rows = 0L
    val q = mem.toDS().toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (n, c) = graft.operators.DataQuality
          .fingerprintTable("events", batch.withColumn("props", lit("{}")))
          .select(col("n_rows"), col("checksum_mod")).as[(Long, Long)].head()
        running = (running + c) % 1000000007L
        rows += n
        ()
      }
      .start()
    try {
      mem.addData(all.take(7)); q.processAllAvailable()
      mem.addData(all.slice(7, 8)); q.processAllAvailable()
      mem.addData(all.drop(8)); q.processAllAvailable()
    } finally q.stop()
    val (nb, cb) = graft.operators.DataQuality
      .fingerprintTable("events", all.toDF().withColumn("props", lit("{}")))
      .select(col("n_rows"), col("checksum_mod")).as[(Long, Long)].head()
    assert(rows == nb && running == cb,
      s"incremental fold ($rows, $running) != batch fingerprint ($nb, $cb)")
  }

  test("foreachBatch upsert is idempotent under replay (at-least-once x LWW)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toFile
    val target = new java.io.File(dir, "agg").getAbsolutePath
    val batch = HourlyAggregation(Seq(
      ev(1, "2024-01-01 10:05:00", 1, "click", 2.0),
      ev(2, "2024-01-01 10:15:00", 2, "click", 3.5)).toDF())
    StreamingAgg.upsertBatch(spark, batch, target, batchId = 0)
    StreamingAgg.upsertBatch(spark, batch, target, batchId = 0) // replay
    StreamingAgg.upsertBatch(spark, batch, target, batchId = 1) // same data, later batch
    val result = spark.read.parquet(target)
    assert(result.count() == 1)
    assert(result.select("event_count").as[Long].head == 2L)
  }

  test("upsertBatch recovery: a publish that fails keeps _old until the next call merges it") {
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
    /** Fails the first rename into `into`, as a crash between the swap's
      * steps would leave it.
      */
    class FailPublishOnce(fs: FileSystem, into: Path) extends FilterFileSystem(fs) {
      var failed = false
      override def rename(src: Path, dst: Path): Boolean =
        if (!failed && dst == into) { failed = true; false }
        else super.rename(src, dst)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_recovery").toFile
    val target = new java.io.File(dir, "agg").getAbsolutePath
    val (targetP, oldP) = (new Path(target), new Path(target + "_old"))
    val fs = targetP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def served(): Set[String] = Seq(targetP, oldP).find(fs.exists)
      .map(p => spark.read.parquet(p.toString).select("event_type").as[String]
        .collect().toSet)
      .getOrElse(Set.empty)
    def hour(id: Long, t: String, typ: String) =
      HourlyAggregation(Seq(ev(id, t, 1, typ, 1.0)).toDF())
    // recovery layout: a previous swap died between its renames, so the
    // accumulated table S sits at _old and there is no target
    StreamingAgg.upsertBatch(spark, hour(1, "2024-01-01 10:05:00", "click"),
      target, batchId = 0)
    assert(fs.rename(targetP, oldP) && !fs.exists(targetP))
    val failing = new FailPublishOnce(fs, targetP)
    intercept[java.io.IOException](StreamingAgg.upsertBatch(spark,
      hour(2, "2024-01-01 11:05:00", "view"), target, 1, failing))
    assert(failing.failed)
    assert(served() == Set("click"), "S must stay readable after the failed call")
    StreamingAgg.upsertBatch(spark, hour(3, "2024-01-01 12:05:00", "buy"),
      target, batchId = 2)
    assert(fs.exists(targetP) && !fs.exists(oldP))
    assert(served() == Set("click", "buy"), "the next call must merge S")
  }

  /** A served table at a fresh temp path, and one-event hourly batches. */
  private def servedDir(name: String): String =
    new java.io.File(java.nio.file.Files.createTempDirectory(name).toFile, "agg").getAbsolutePath
  private def hourOf(id: Long, t: String, typ: String, v: Double = 1.0) =
    HourlyAggregation(Seq(ev(id, t, 1, typ, v)).toDF())
  private def servedRows(target: String): Set[org.apache.spark.sql.Row] =
    spark.read.parquet(target).collect().toSet

  test("upsertBatch evaluates the batch frame once") {
    val target = servedDir("graft_upsert_once")
    StreamingAgg.upsertBatch(spark, hourOf(1, "2024-01-01 10:05:00", "click"), target, 0)
    val rows = spark.sparkContext.longAccumulator("upsert_batch_rows")
    val bump = udf((n: Long) => { rows.add(1); n }).asNondeterministic()
    val batch = HourlyAggregation(Seq(
      ev(2, "2024-01-01 10:15:00", 2, "click", 3.5),
      ev(3, "2024-01-01 11:05:00", 1, "view", 1.0),
      ev(4, "2024-01-01 12:05:00", 1, "buy", 2.0)).toDF())
      .withColumn("event_count", bump(col("event_count")))
    StreamingAgg.upsertBatch(spark, batch, target, batchId = 1)
    assert(rows.value == 3L, s"the batch frame ran ${rows.value} row evaluations for 3 rows")
    assert(spark.read.parquet(target).count() == 3L)
  }

  test("upsertBatch rejects a batch with two rows for one key and writes nothing") {
    val target = servedDir("graft_upsert_dup")
    StreamingAgg.upsertBatch(spark, hourOf(1, "2024-01-01 10:05:00", "click"), target, 0)
    val before = servedRows(target)
    val dup = hourOf(2, "2024-01-01 10:15:00", "click", 2.0)
      .unionByName(hourOf(3, "2024-01-01 10:25:00", "click", 3.0))
      .unionByName(hourOf(4, "2024-01-01 11:05:00", "view"))
    val e = intercept[IllegalArgumentException](
      StreamingAgg.upsertBatch(spark, dup, target, batchId = 1))
    assert(e.getMessage.contains("window_start=2024-01-01 10:00:00") &&
      e.getMessage.contains("event_type=click"), e.getMessage)
    assert(servedRows(target) == before, "the served table must be unchanged")
  }

  test("upsertBatch: a later call with a lower batchId overwrites its keys, keeps the rest") {
    val target = servedDir("graft_upsert_lower_id")
    StreamingAgg.upsertBatch(spark, hourOf(1, "2024-01-01 10:05:00", "click", 2.0)
      .unionByName(hourOf(2, "2024-01-01 11:05:00", "view", 5.0)), target, batchId = 5)
    StreamingAgg.upsertBatch(spark, HourlyAggregation(Seq(
      ev(3, "2024-01-01 10:15:00", 1, "click", 7.0),
      ev(4, "2024-01-01 10:25:00", 2, "click", 1.0)).toDF()), target, batchId = 3)
    val got = spark.read.parquet(target)
      .select("event_type", "event_count", "total_value", "created_at")
      .as[(String, Long, Double, Long)].collect().toSet
    assert(got == Set(("click", 2L, 8.0, 3L), ("view", 1L, 5.0, 5L)), got.toString)
  }

  test("stateful streaming transitions match the batch lead() operator across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val q = graft.streaming.StatefulTransitions.transitions(spark, mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("transitions_out").start()
    def e(u: Long, id: Long, t: String, tp: String) =
      (u, id, Timestamp.valueOf(t), tp)
    try {
      mem.addData(
        e(1, 1, "2024-01-01 10:00:00", "a"), e(1, 2, "2024-01-01 10:01:00", "b"),
        e(2, 3, "2024-01-01 10:00:00", "x"))
      q.processAllAvailable()
      // batch 2 continues user 1 from state (b -> a) and user 2 (x -> x)
      mem.addData(
        e(1, 4, "2024-01-01 10:02:00", "a"),
        e(2, 5, "2024-01-01 10:03:00", "x"))
      q.processAllAvailable()
      val got = spark.table("transitions_out").collect()
        .groupBy(r => (r.getString(1), r.getString(2)))
        .view.mapValues(_.length.toLong).toMap
      // batch parity over the union of arrivals
      val all = Seq(
        (1L, 1L, Timestamp.valueOf("2024-01-01 10:00:00"), "a", 0.0),
        (1L, 2L, Timestamp.valueOf("2024-01-01 10:01:00"), "b", 0.0),
        (2L, 3L, Timestamp.valueOf("2024-01-01 10:00:00"), "x", 0.0),
        (1L, 4L, Timestamp.valueOf("2024-01-01 10:02:00"), "a", 0.0),
        (2L, 5L, Timestamp.valueOf("2024-01-01 10:03:00"), "x", 0.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value")
      val batch = graft.queries.Analytics.eventTransitions(all).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == batch,
        s"cross-batch stateful pairs must equal batch lead() counts: $got vs $batch")
    } finally q.stop()
  }

  test("streaming winnowing: the native expression fingerprints a stream statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "a completely different document body with its own words here"
    val mem = MemoryStream[Doc]
    val q = StreamingAgg.winnowStream(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("winnow_stream_out").start()
    try {
      mem.addData(Doc(1, Timestamp.valueOf("2024-01-01 10:00:00"), t1, "srcA"),
        Doc(2, Timestamp.valueOf("2024-01-01 10:01:00"), "short", "srcA"))
      q.processAllAvailable()
      mem.addData(Doc(3, Timestamp.valueOf("2024-01-01 10:02:00"), t2, "srcA"))
      q.processAllAvailable()
      val got = spark.table("winnow_stream_out").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // len("short") < k -> filtered in-stream; 2 rows out
      assert(got.keySet == Set(1L, 3L))
      // batch parity on the union of arrivals
      val batchFp = graft.functions.TextAnalysis.winnowFingerprints(
        Seq((1L, t1), (2L, "short"), (3L, t2)).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
      assert(got == batchFp,
        "stream rows must equal the batch operator's (count, checksum) per doc")
    } finally q.stop()
  }

  test("stream builds register no function: two builds of each stream, no warning") {
    implicit val sqlCtx = spark.sqlContext
    val (schemas, warns) = WarnCapture {
      (1 to 2).flatMap { _ =>
        val src = MemoryStream[Ev].toDF()
        Seq(StreamingAgg.hourlyAggStream(spark, src),
          StreamingAgg.dedupedHourlyAggStream(spark, src),
          StreamingAgg.slidingCountsStream(spark, src)).map(_.schema)
      }
    }
    assert(schemas.take(3) == schemas.drop(3))
    val hits = warns.filter(_.contains("replaced a previously registered function"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
