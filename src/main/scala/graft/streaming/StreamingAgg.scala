package graft.streaming

import graft.operators.HourlyAggregation
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Structured Streaming parity for the reference's write path (SURVEY.md
  * §3.1): Kafka-consume loop + in-memory window dict + periodic flush,
  * re-expressed as readStream → window agg → foreachBatch upsert.
  *
  * Semantics mapping (reference file:line per SURVEY.md §2.3):
  *   - O9 grace period: `withWatermark(ts, 1h + grace)` — event-time rather
  *     than the reference's processing-time clock (documented divergence,
  *     SURVEY.md §2.7; for now()-stamped streams they coincide).
  *   - O10 60 s flush cadence: `Trigger.ProcessingTime("60 seconds")`.
  *   - O14 idempotent upsert: each foreachBatch call replaces its
  *     (window_start, event_type) keys in the served table — at-least-once
  *     replay is safe.
  *   - O4/O5 exact distinct: streaming aggregation can't plan
  *     `countDistinct`, so [[ExactDistinctLong]] (a typed Aggregator UDAF)
  *     accumulates the exact set single-pass, matching the reference's
  *     materialized `set` semantics (aggregation.py:16-17). At reference
  *     cardinalities (user pool <= 1000/window) the state is tiny; for
  *     unbounded domains swap in approx_count_distinct.
  */
object StreamingAgg {

  /** State buffer for [[ExactDistinctLong]]: a growable primitive Long
    * array that compacts (sort + dedup in place) whenever it fills. The
    * worst-case layout in the state store is a flat 8-bytes-per-distinct
    * array (plus at most one uncompacted duplicate run bounded by the
    * current capacity) — versus ~40+ bytes/element and object graphs for a
    * Kryo'd `mutable.HashSet`. Under heavy duplication the compaction keeps
    * the array near the DISTINCT cardinality, not the observed row count;
    * the capacity only doubles when a compaction fails to reclaim half the
    * slots, i.e. when the distinct set itself grew.
    */
  case class DistinctBuf(var data: Array[Long], var n: Int) {
    def add(v: Long): DistinctBuf = {
      if (n == data.length) compactOrGrow()
      data(n) = v; n += 1; this
    }
    private def compactOrGrow(): Unit = {
      val d = distinctSorted
      if (d.length <= data.length / 2) {
        System.arraycopy(d, 0, data, 0, d.length)
      } else {
        val nd = new Array[Long](math.max(8, data.length * 2))
        System.arraycopy(d, 0, nd, 0, d.length)
        data = nd
      }
      n = d.length
    }
    def distinctSorted: Array[Long] = {
      val s = java.util.Arrays.copyOf(data, n)
      java.util.Arrays.sort(s)
      var w = 0; var i = 0
      while (i < n) {
        if (w == 0 || s(w - 1) != s(i)) { s(w) = s(i); w += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(s, w)
    }
  }

  /** Exact COUNT(DISTINCT <long col>) as a single-pass typed Aggregator —
    * usable in streaming aggregations where Spark's planner rejects
    * countDistinct. Exact-set semantics match the reference's materialized
    * sets; the [[DistinctBuf]] state encodes as a primitive long array
    * (product encoder — no Kryo object graph in the state store). For
    * genuinely unbounded key domains swap in approx_count_distinct
    * (hourly_agg_approx is that variant).
    */
  class ExactDistinctLong extends Aggregator[Long, DistinctBuf, Long] {
    override def zero: DistinctBuf = DistinctBuf(new Array[Long](8), 0)
    override def reduce(b: DistinctBuf, a: Long): DistinctBuf = b.add(a)
    override def merge(b1: DistinctBuf, b2: DistinctBuf): DistinctBuf = {
      val d = b2.distinctSorted
      var i = 0
      while (i < d.length) { b1.add(d(i)); i += 1 }
      b1
    }
    override def finish(r: DistinctBuf): Long = r.distinctSorted.length.toLong
    override def bufferEncoder = org.apache.spark.sql.Encoders.product[DistinctBuf]
    override def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  /** [[ExactDistinctLong]] as a function of a Column: applied through the
    * Column API, it needs no entry in a session's function registry.
    */
  private val exactDistinctLong = udaf(new ExactDistinctLong)

  /** Exactly-once event stream from at-least-once delivery: drop replayed
    * event_ids inside the watermark horizon
    * (`dropDuplicatesWithinWatermark`). The reference gets effectively-once
    * from idempotent UPSERTs after aggregation; this is the
    * pre-aggregation equivalent for operators that are NOT idempotent
    * (e.g. COUNT would double-count a redelivered event). State is one
    * entry per event_id within the horizon — bounded by rate × horizon and
    * evicted by the watermark, unlike plain `dropDuplicates` whose
    * streaming state grows forever.
    */
  def dedupEvents(events: DataFrame, horizon: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Chained stateful operators in ONE streaming query (Spark's
    * multi-stateful pipeline support): replay-safe event dedup feeding the
    * windowed aggregate with no intermediate sink — both state stores live
    * in the same checkpoint, so exactly-once holds across the pair (an
    * intermediate Kafka/parquet hop would reintroduce the at-least-once
    * seam the dedup exists to close). The dedup horizon is pinned to the
    * aggregate's watermark delay so one event-time watermark bounds both
    * stores.
    */
  def dedupedHourlyAggStream(
      spark: SparkSession,
      events: DataFrame,
      grace: String = "60 seconds"): DataFrame =
    hourlyWindowAgg(dedupEvents(events, s"1 hour $grace"))

  /** Streaming document curation — the ingest-side slice of
    * [[graft.operators.Curation.funnel]] as a stream: the stateless
    * language/quality gates run FIRST (cheap row filters, and they shrink
    * the dedup state), then exact dedup on the 16-byte content digest
    * within the watermark horizon. Standing state is one digest row per
    * distinct surviving document inside the horizon — scales with
    * arrival rate x horizon, never with corpus history. Gate formulas are
    * shared with the batch funnel (Curation.langPred / qualityScore), so
    * batch and stream can only move together.
    */
  def curatedDocStream(
      docs: DataFrame,
      stopwords: Seq[String],
      horizon: String = "1 hour",
      qualityMin: Double = 0.5): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .filter(graft.operators.Curation.langPred(toks) =!= "und")
      .filter(graft.operators.Curation.qualityScore(toks, stopwords) >= qualityMin)
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  /** Streaming incremental regeneration — the streamable prefix (stages
    * 1 + 3) of [[graft.operators.Curation.incrementalRegen]], for a doc
    * stream arriving against a standing corpus:
    *
    *  - drop arrivals whose raw digest already stands in the corpus:
    *    stream-static left_anti join against `corpusDigests` (a
    *    `content_hash` frame — at scale the corpus's 16-byte digest
    *    INDEX, broadcastable or bucketed, never its text),
    *  - exact-dedup within the stream horizon on the same digest
    *    (dropDuplicatesWithinWatermark — state is one digest row per
    *    distinct surviving doc inside the horizon, bounded by
    *    arrival rate x horizon),
    *  - assign the stable rolling-hash 80/10/10 content split, so an
    *    incrementally-ingested doc lands in the split a full batch
    *    rebuild would give it.
    *
    * Stage 2 of the batch composition (the span audit) needs cross-doc
    * windows over the whole arrival and stays a batch compaction step —
    * the documented batch/stream split, parity-pinned in
    * StreamingAggSpec (stream output == batch stages 1+3 over the same
    * arrivals).
    */
  /** Streamable prefix of
    * [[graft.multimodal.Multimodal.incrementalCrossmodal]] — the
    * multimodal twin of [[incrementalRegenStream]]: fingerprint each
    * arrival with all three REAL codecs (stateless map pass), drop
    * arrivals whose audio envelope hash, image dHash or text digest
    * already stands in the corpus index (three stream-static left_anti
    * joins against `corpusFps` — at scale a 44-byte-per-doc fingerprint
    * INDEX, broadcastable, never the payloads), then first-arrival
    * exact-dedup on the envelope hash within the stream horizon.
    *
    * The batch operator's BANDED near-match gates (Hamming 1..maxHamming
    * vs the corpus) and the remaining internal exact gates need either a
    * per-arrival band expansion joined back onto stream state or
    * cross-arrival windows — they stay batch compaction steps, the same
    * documented batch/stream split as the regen span audit. Parity is
    * spec-pinned: stream output == the batch form of exactly these
    * stages over the same arrivals.
    */
  def incrementalCrossmodalStream(
      docs: DataFrame,
      corpusFps: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ingest_ts",
        org.apache.spark.sql.types.TimestampType, nullable = false),
      org.apache.spark.sql.types.StructField("afp",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dhash",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("th",
        org.apache.spark.sql.types.StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val fp = docs.select(col("doc_id"), col("ingest_ts"), col("text"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val id = r.getLong(0)
          md.reset()
          val th = md.digest(r.getString(2).getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
            .map(b => f"$b%02x").mkString
          org.apache.spark.sql.Row(id, r.getTimestamp(1),
            graft.multimodal.Multimodal.audioFpOf(id)._2,
            graft.multimodal.Multimodal.imageFpOf(id)._3, th)
        }
      }(enc)
    fp.join(corpusFps.select(col("afp")).distinct(), Seq("afp"), "left_anti")
      .join(corpusFps.select(col("dhash")).distinct(), Seq("dhash"), "left_anti")
      .join(corpusFps.select(col("th")).distinct(), Seq("th"), "left_anti")
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("afp")
  }

  def incrementalRegenStream(
      docs: DataFrame,
      corpusDigests: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val bucket =
      graft.functions.GraftColumns.rollingHash(col("text")) % 100
    docs
      .withColumn("content_hash", md5(col("text")))
      .join(corpusDigests, Seq("content_hash"), "left_anti")
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
  }

  /** Map-only streaming winnowing: the native
    * [[graft.functions.WinnowStats]] expression runs UNCHANGED on a
    * stream — a stateless per-row projection (no watermark, no state, no
    * output-mode constraint), which is the point of pushing the whole
    * fingerprint algorithm into one codegen expression: ingest-side
    * fingerprinting costs exactly a map over the stream. Batch parity is
    * structural (same expression node) and spec-asserted.
    */
  def winnowStream(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    docs
      .filter(length(col("text")) >= k)
      .select(col("doc_id"),
        graft.functions.GraftColumns.winnowStats(col("text"), k, w).as("ws"))
      .select(col("doc_id"),
        col("ws").getItem(2).as("n_fingerprints"),
        col("ws").getItem(3).as("fp_checksum"))

  /** Streaming counterpart of [[graft.operators.Sessionize.sessionWindows]]:
    * the SAME native `session_window` merging aggregate over a watermarked
    * stream (append mode — a session row emits once the watermark passes
    * its end, i.e. once no in-horizon event can extend or merge it). State
    * is one open session range per active (user, session), evicted on
    * emission — bounded by concurrently-active sessions, not history.
    * The aggregate list mirrors the batch operator except exact distinct
    * (streaming forbids countDistinct; `size(collect_set(...))` has the
    * same exact-set semantics with state bounded by the enumerable type
    * domain), so batch and stream move together — the parity
    * StreamingAggSpec asserts row-for-row.
    */
  def sessionWindowStream(
      events: DataFrame,
      gap: String = "30 minutes", grace: String = "60 seconds"): DataFrame = {
    events
      .withWatermark("ts", s"$gap $grace")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        count(lit(1)).as("n_events"),
        size(collect_set(col("event_type"))).cast("long").as("n_types"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("value_sum"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("n_types"), col("value_sum"))
  }

  /** Streaming counterpart of
    * [[graft.queries.Analytics.slidingWindowCounts]]: the same native
    * hopping `window(len, slide)` aggregate, watermarked, append mode.
    * Each event updates len/slide open windows; a window emits (and its
    * state evicts) when the watermark passes its end, so standing state is
    * (len/slide) x windows-in-horizon rows regardless of history.
    */
  def slidingCountsStream(
      spark: SparkSession, events: DataFrame,
      len: String = "1 hour", slide: String = "15 minutes",
      grace: String = "60 seconds"): DataFrame =
    events
      .withWatermark("ts", s"$len $grace")
      .groupBy(window(col("ts"), len, slide))
      .agg(
        count(lit(1)).as("n_events"),
        exactDistinctLong(col("user_id")).as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("value_sum"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("n_users"), col("value_sum"))

  /** Stream-stream interval join: (error, purchase) pairs within `hours`
    * of each other for the same user — the streaming counterpart of
    * [[graft.operators.RangeJoin.errorsNearPurchases]]. Both sides carry
    * watermarks AND the join predicate carries the time band, which is
    * exactly what lets Spark bound the join STATE: a buffered error row is
    * evictable once the purchase-side watermark passes error_ts + band
    * (and symmetrically), so state scales with rate x (band + delay), not
    * with stream history. Called on a BATCH frame the same plan runs with
    * watermarks as no-ops — the parity the spec asserts.
    */
  def errorsNearPurchasesStream(
      events: DataFrame, hours: Int = 1, delay: String = "2 hours"): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(
        col("user_id"), col("event_id").as("error_id"), col("ts").as("error_ts"))
      .withWatermark("error_ts", delay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(
        col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    errors.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("error_ts") >= col("purchase_ts") - expr(s"interval $hours hours") &&
        col("error_ts") <= col("purchase_ts") + expr(s"interval $hours hours"))
      .select(
        col("user_id"), col("error_id"), col("purchase_id"),
        (unix_micros(col("error_ts")) - unix_micros(col("purchase_ts")))
          .as("gap_micros"))
  }

  /** The streaming hourly aggregation: same measure set as the batch
    * [[graft.operators.HourlyAggregation]], over a streaming `events` frame.
    * `grace` mirrors GRACE_PERIOD_SECONDS (default 60 s).
    */
  def hourlyAggStream(spark: SparkSession, events: DataFrame, grace: String = "60 seconds"): DataFrame =
    hourlyWindowAgg(events.withWatermark("ts", s"1 hour $grace"))

  /** The batch aggregate's body ([[HourlyAggregation.byHour]], distinct
    * users counted by [[ExactDistinctLong]]) over an ALREADY-watermarked
    * frame —
    * shared by [[hourlyAggStream]] and the chained pipeline
    * [[dedupedHourlyAggStream]] (a streaming query may define its
    * event-time watermark only once, so composition must not re-stamp it).
    */
  private def hourlyWindowAgg(events: DataFrame): DataFrame =
    HourlyAggregation.byHour(events, exactDistinctLong(col("user_id")))

  /** Grouping key for the wall-clock window store: epoch-micros hour
    * floor + event type — the reference's `(window_start, event_type)`
    * dict key (aggregation.py:51-53).
    */
  case class GraceKey(windowStartMicros: Long, eventType: String)

  /** Per-window state: counts + the exact user set as a sorted-distinct
    * long array (the reference keeps literal Python sets in memory,
    * aggregation.py:16-17 — same cardinality bound applies).
    */
  case class GraceState(
      eventCount: Long, users: Array[Long], totalValue: Double)

  /** One flushed window — the reference's AggregationRecord shape
    * restricted to the harness measure set.
    */
  case class GraceFlushRec(
      window_start: java.sql.Timestamp, window_end: java.sql.Timestamp,
      event_type: String, event_count: Long, unique_user_count: Long,
      total_value: Double, avg_value: Double)

  /** O9 FAITHFUL variant — processing-time grace, exactly the
    * reference's wall-clock reap (`get_completed_windows(now, grace)`
    * removes and returns windows with `window_end <= now - grace`,
    * aggregation.py:69-79; called from the flush tick,
    * aggregation_service.py:140-148) — as opposed to
    * [[hourlyAggStream]]'s event-time watermark (the canonical Spark
    * spelling; divergence documented in SURVEY §2.7).
    *
    * Mechanics: `flatMapGroupsWithState` with a PROCESSING-TIME timeout
    * per (window_start, event_type) key set to `window_end + grace -
    * now`. On timeout the window is emitted and its state REMOVED —
    * which also reproduces the reference's late-reopen quirk verbatim:
    * an event arriving after its window was reaped finds no state and
    * opens a FRESH window counting from zero (process_event has no
    * memory of the flushed counts, aggregation.py:53-58); when that
    * reopened window is reaped, the downstream LWW upsert
    * ([[upsertBatch]], mirroring `ON CONFLICT DO UPDATE` with EXCLUDED
    * values, upsert_aggregation.sql:13-19) OVERWRITES the previously
    * flushed full counts with the late-only counts. StreamingAggSpec
    * demonstrates both semantics side by side.
    *
    * Scale: state is per-(hour, type) — time-domain-bounded, not
    * corpus-bounded — and each key's state holds the exact distinct
    * user array (reference parity; swap for a sketch when the user
    * domain is unbounded). Timeout firing needs a micro-batch to run;
    * Spark schedules no-data batches for exactly this purpose
    * (spark.sql.streaming.noDataMicroBatches.enabled, default true).
    * OPERATIONAL CAVEAT: while processing-time timers are pending the
    * engine keeps CONSTRUCTING batches, so the query never reports
    * quiescence — `processAllAvailable()` blocks indefinitely; drive
    * tests by polling the sink (see StreamingAggSpec) and pace with
    * `Trigger.ProcessingTime` to bound the no-data batch churn.
    */
  def processingTimeGraceStream(
      spark: SparkSession, events: DataFrame,
      graceMs: Long = 60000L,
      clock: () => Long = () => System.currentTimeMillis())
      : org.apache.spark.sql.Dataset[GraceFlushRec] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val typed = events
      .select(col("ts"), col("event_type"), col("user_id"), col("value"))
      .as[(java.sql.Timestamp, String, Long, Double)]
    typed
      .groupByKey { case (ts, et, _, _) =>
        val micros = ts.getTime * 1000L // ms -> micros
        GraceKey(micros - micros % 3600000000L, et)
      }
      .flatMapGroupsWithState[GraceState, GraceFlushRec](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (key, rows, state) =>
          val windowEndMs = key.windowStartMicros / 1000L + 3600000L
          if (state.hasTimedOut) {
            // the reference's reap: emit AND delete (aggregation.py:74-77)
            val s = state.get
            state.remove()
            val total = BigDecimal(s.totalValue)
              .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
            Iterator(GraceFlushRec(
              new java.sql.Timestamp(key.windowStartMicros / 1000L),
              new java.sql.Timestamp(windowEndMs),
              key.eventType, s.eventCount, s.users.length.toLong,
              total, total / s.eventCount))
          } else {
            // fresh state when absent — INCLUDING after a reap (the
            // late-reopen path: counts restart from zero)
            var count = 0L
            var total = 0.0
            val users = scala.collection.mutable.SortedSet.empty[Long]
            if (state.exists) {
              val s = state.get
              count = s.eventCount; total = s.totalValue; users ++= s.users
            }
            rows.foreach { case (_, _, uid, v) =>
              count += 1; total += v; users += uid
            }
            state.update(GraceState(count, users.toArray, total))
            // reap at the first batch after window_end + grace passes
            // the wall clock (already-expired windows fire next batch)
            state.setTimeoutDuration(
              math.max(windowEndMs + graceMs - clock(), 1L))
            Iterator.empty
          }
      }
  }

  /** O10 — the reference's periodic flush gate (60 s default): start the
    * streaming aggregation with `Trigger.ProcessingTime(cadence)`, so
    * micro-batches (and therefore sink flushes) fire on a processing-time
    * clock rather than per arrival — many arrivals inside one cadence
    * interval coalesce into ONE flush, which is exactly the reference's
    * buffer-then-flush behavior. Update output mode: each flush carries
    * only the (window, type) aggregates that changed since the previous
    * one, pairing with the idempotent [[upsertBatch]] sink.
    * StreamingAggSpec asserts the cadence (batch count tracks elapsed /
    * cadence, not arrival count) at a test-scaled interval.
    */
  def startWithFlushCadence(
      agg: DataFrame, cadence: String = "60 seconds")(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(cadence))
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(b.toDF(), id))
      .start()

  /** foreachBatch sink body targeting a real SQL backend: each update-mode
    * micro-batch MERGEs into the served table via [[graft.sources.Sources
    * .upsertJdbc]] — the executable counterpart of the reference's
    * `INSERT ... ON CONFLICT DO UPDATE` flush (upsert_aggregation.sql:1-19,
    * called from aggregation_service.py's flush tick), with `created_at`
    * stamped per flush exactly like the reference's EXCLUDED.created_at.
    * Compose with [[startWithFlushCadence]]:
    * `startWithFlushCadence(agg)(jdbcUpsertSink(url, table, keys))`.
    * Replay-idempotent: re-delivered micro-batches re-MERGE the same
    * keyed aggregates (SourcesObsSpec replay test).
    */
  def jdbcUpsertSink(
      url: String, table: String,
      keyCols: Seq[String] = Seq("window_start", "event_type"))
      : (DataFrame, Long) => Unit =
    (batch, batchId) =>
      graft.sources.Sources.upsertJdbc(
        batch.withColumn("created_at", lit(batchId)), url, table, keyCols)

  /** foreachBatch sink body: upsert of a micro-batch into a parquet target
    * keyed by (window_start, event_type), the reference's `INSERT ... ON
    * CONFLICT DO UPDATE SET ... = EXCLUDED` (upsert_aggregation.sql:1-19).
    * The batch replaces its keys: every row of the served table whose key
    * the batch holds is dropped and the batch's row takes its place, so the
    * newest call wins for its keys, as EXCLUDED overwrites the stored row.
    * Spark replays only the last uncommitted batch id and a replay writes
    * the same rows, so this is the newest-`created_at`-per-key table while
    * batch ids never go backwards; `created_at` is still written.
    *
    * The merge needs no shuffle. The batch is persisted and evaluated
    * once; only its keys are collected ([[withReplacedKeys]]). The served
    * table is filtered against that key set, shipped as a broadcast
    * variable, and unioned with the cached batch in one narrow
    * `coalesce(1)` stage, with no exchange, sort or window. The plan and
    * the task binary stay the same size however many keys the batch holds,
    * so a complete-mode batch that repeats every key costs one more
    * broadcast, not a plan with one expression per key. A batch that holds
    * two rows for one key is rejected with `IllegalArgumentException`
    * before anything is written; the update, complete and grace outputs
    * never produce one. An empty batch still rewrites and swaps the table.
    * On a lakehouse table this would be a single `MERGE INTO`; over plain
    * parquet the (tiny) aggregate table is rewritten, which stays cheap
    * because its cardinality is bounded by hours x event_types, not by
    * event volume.
    */
  def upsertBatch(spark: SparkSession, batch: DataFrame, targetDir: String, batchId: Long): Unit = {
    // All path manipulation goes through the Hadoop FileSystem resolved for
    // the target URI, so the crash-safe swap works identically on local fs,
    // HDFS (atomic rename), and object stores (S3A rename is copy+delete —
    // slower but still leaves either target or _old readable at every step).
    upsertBatch(spark, batch, targetDir, batchId,
      new Path(targetDir).getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** [[upsertBatch]] with the swap's renames and deletes going through `fs`
    * (a spec injects a filesystem that fails on cue).
    */
  private[graft] def upsertBatch(spark: SparkSession, batch: DataFrame,
      targetDir: String, batchId: Long, fs: FileSystem): Unit = {
    val target = new Path(targetDir)
    val old = new Path(targetDir + "_old")
    // Crash recovery: a previous swap may have died between the two renames,
    // leaving the accumulated table at _old and no target.
    val existingDir =
      if (fs.exists(target)) Some(targetDir)
      else if (fs.exists(old)) Some(targetDir + "_old")
      else None

    val tmp = new Path(targetDir + "_tmp")
    withReplacedKeys(spark, existingDir.map(spark.read.parquet(_)),
      batch.withColumn("created_at", lit(batchId))) { merged =>
      merged.write.mode("overwrite").parquet(tmp.toString)
    }
    swapIn(fs, tmp, target, old, batchId)
  }

  /** The served table's key. */
  private val ServedKey = Seq("window_start", "event_type")

  /** Hands `use` the frame [[upsertBatch]] writes: `served` without the
    * keys that `batch` holds, plus `batch`, in one partition. `batch` is
    * persisted for the duration of `use` and evaluated once, by the job
    * that collects its keys, so the write does not run the micro-batch's
    * stateful stages a second time. The keys are checked for a repeat and
    * broadcast as a set that a filter on `served` probes: the plan holds
    * no per-key expression and no batch row, only a parquet scan, that
    * filter, a union with the cached batch and a `coalesce(1)`, with no
    * exchange, sort or window. `coalesce(1)` is deliberate while the
    * aggregate stays hours x types bounded (one small file per swap); a
    * row-volume-bounded table would partition the target instead.
    */
  private[graft] def withReplacedKeys[T](spark: SparkSession, served: Option[DataFrame],
      batch: DataFrame)(use: DataFrame => T): T = {
    val fresh = batch.persist()
    try {
      val keys = fresh.select(ServedKey.map(col): _*).collect()
      // a java.util.HashSet: it serializes about three times faster than a
      // Scala Set, which shows once a complete-mode batch holds every key
      val keySet = new java.util.HashSet[Row](2 * keys.length)
      keys.find(k => !keySet.add(k)).foreach { k =>
        throw new IllegalArgumentException(
          s"upsertBatch: the batch holds ${keys.count(_ == k)} rows for the key " +
            ServedKey.zip(k.toSeq).map { case (c, v) => s"$c=$v" }.mkString("(", ", ", ")"))
      }
      val replaced = spark.sparkContext.broadcast(keySet)
      try {
        val kept = udf((k: Row) => !replaced.value.contains(k))
        use(served.map(_.filter(kept(struct(ServedKey.map(col): _*))))
          .fold(fresh)(_.unionByName(fresh)).coalesce(1))
      } finally replaced.destroy()
    } finally fresh.unpersist()
  }

  /** Publish `tmp` as `target`, keeping the prior state on disk until the
    * new one is in place: target -> old, tmp -> target, then drop old. A
    * crash at any point leaves target or old readable — never silent loss.
    * When target is missing, old holds the only accumulated state (a
    * previous swap died between its renames), so it is dropped only after
    * tmp is published; when target exists, old is stale and goes first.
    */
  private def swapIn(fs: FileSystem, tmp: Path, target: Path, old: Path,
      batchId: Long): Unit = {
    def drop(p: Path): Unit =
      if (fs.exists(p) && !fs.delete(p, true))
        throw new java.io.IOException(s"upsertBatch: could not delete $p")
    if (fs.exists(target)) {
      drop(old)
      if (!fs.rename(target, old))
        throw new java.io.IOException(s"upsertBatch: failed to stage $target aside")
    }
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(
        s"upsertBatch: failed to publish batch $batchId to $target")
    drop(old)
  }
}
