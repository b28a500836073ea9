package perfbench

import java.io.File
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.{LockSupport, ReentrantReadWriteLock}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.HourlyAggregation
import graft.queries.ReadQueries
import graft.sources.Sources
import graft.streaming.StreamingAgg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The reference's live path, driven through the program's public
  * functions only: JSON wire records → `Sources.parseJsonEvents` →
  * `StreamingAgg.dedupedHourlyAggStream` → foreachBatch
  * `StreamingAgg.upsertBatch` into a served parquet table, read back
  * with `ReadQueries` Q1–Q5. */
object Streams {

  /** Q1–Q5 as the reference API issues them. */
  val Reads: IndexedSeq[(String, DataFrame => DataFrame)] = IndexedSeq(
    "q1" -> (agg => ReadQueries.getAggregations(agg, eventType = Some("purchase"),
      fromTime = Some("2023-12-01 00:00:00"), limit = 100)),
    "q2" -> (agg => ReadQueries.getLatest(agg, 10)),
    "q3" -> (agg => ReadQueries.getStats(agg, fromTime = Some("2023-07-01 00:00:00"))),
    "q4" -> (agg => ReadQueries.getEventTypes(agg)),
    "q5" -> (agg => ReadQueries.groupedSum(agg)))

  private val ServedCols = Seq("window_start", "window_end", "event_type", "event_count",
    "unique_user_count", "total_value", "avg_value")

  /** One running pipeline over a MemoryStream of wire records, flushed
    * to the sink every `cadence` ("0 seconds": back to back). */
  final class Pipe(ctx: Ctx, val served: String, cadence: String) {
    /** `upsertBatch` renames the served directory aside and a new one into
      * place, and a read that lists or scans it meanwhile throws
      * `FileNotFoundException`. How many reads hit that window is a matter
      * of timing, so a run's failure count would differ from run to run
      * on the same input. Reads therefore hold this lock's read side and
      * the sink its write side: a read waits for a running sink call and
      * the sink for a running read, and the wait counts in their times. */
    val servedLock = new ReentrantReadWriteLock(true)
    private val spark = ctx.spark
    // one partition per core, as a topic with that many partitions would
    // give, however many appends a micro-batch covers
    private val mem = MemoryStream[String](spark, ctx.cores)(spark.implicits.newStringEncoder)
    val visibleNs = new ConcurrentHashMap[Long, Long]()
    val sinkMs = new ConcurrentLinkedQueue[java.lang.Double]()
    private val agg = StreamingAgg.dedupedHourlyAggStream(spark,
      Sources.parseJsonEvents(mem.toDF()))
    // an offset for the first trigger (planning, codegen and state-store
    // start-up), which runs at once whatever the cadence
    val firstOffset: Long = mem.addData(Seq.empty[String]).json().toLong
    val query = StreamingAgg.startWithFlushCadence(agg, cadence) { (batch, id) =>
      val w0 = System.nanoTime()
      servedLock.writeLock().lock()
      val t0 = System.nanoTime()
      try StreamingAgg.upsertBatch(spark, batch, served, id)
      finally servedLock.writeLock().unlock()
      val t1 = System.nanoTime()
      if (t0 - w0 > 1000000L) ctx.trace.span(s"b$id", "sink", "wait_for_read", w0, t0)
      visibleNs.put(id, t1)
      sinkMs.add((t1 - t0) / 1e6)
      ctx.trace.span(s"b$id", "sink", "upsertBatch", t0, t1)
    }

    /** Appends one tick of records (a MemoryStream offset counts appends,
      * not records); returns the offset they end at. */
    def append(recs: Array[String]): Long = mem.addData(recs.toSeq).json().toLong

    def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq

    /** Waits until a batch covering `offset` has committed. Unlike
      * `processAllAvailable`, this does not wait for a further trigger
      * that finds no new data, a whole cadence later. */
    def awaitCommitted(offset: Long): Unit =
      while (Option(query.lastProgress).flatMap(endOffset).forall(_ < offset)) {
        query.exception.foreach(e => throw e)
        Thread.sleep(2)
      }

    /** Visible time of the first batch whose end offset covers `offset`. */
    def visibleAt(offset: Long): Option[Long] =
      batchEnds.find(_._2 >= offset).flatMap { case (b, _) => Option(visibleNs.get(b)) }

    /** How many batches hold the appends in offsets [from, to]. */
    def batchesCovering(from: Long, to: Long): Int = {
      val i = batchEnds.indexWhere(_._2 >= from)
      val j = batchEnds.indexWhere(_._2 >= to)
      if (i < 0 || j < 0) 0 else j - i + 1
    }

    private def endOffset(p: StreamingQueryProgress): Option[Long] =
      p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong)

    private lazy val batchEnds: Seq[(Long, Long)] =
      progress.flatMap(p => endOffset(p).map(p.batchId -> _)).sortBy(_._1)

    def corruptRecords: Long = progress.flatMap(p => Option(p.observedMetrics.get("json_parse")))
      .map(_.getAs[Long]("corrupt_records")).sum
  }

  val HistoryRows: Long = 365L * 24 * Gen.EventTypes.length

  /** A year of hourly rows that the live stream must leave untouched. */
  def history(spark: SparkSession, seed: Long): DataFrame = {
    val types = Gen.EventTypes.map(lit(_)).toIndexedSeq
    spark.range(HistoryRows)
      .select(
        timestamp_micros(lit(Gen.HistoryStart) + expr("id DIV 10") * Gen.HourMicros).as("window_start"),
        timestamp_micros(lit(Gen.HistoryStart) + (expr("id DIV 10") + 1) * Gen.HourMicros).as("window_end"),
        element_at(array(types: _*), (col("id") % 10 + 1).cast("int")).as("event_type"),
        (pmod(xxhash64(col("id"), lit(seed)), lit(500L)) + 1).as("event_count"),
        (pmod(xxhash64(col("id"), lit(seed + 1)), lit(300L)) + 1).as("unique_user_count"),
        (pmod(xxhash64(col("id"), lit(seed + 2)), lit(1000000L)) / 100.0).as("total_value"))
      .withColumn("avg_value", col("total_value") / col("event_count"))
      .withColumn("created_at", lit(-1L))
  }

  /** The well-formed distinct events [0, n) as the program's batch table. */
  def expectedEvents(spark: SparkSession, gen: Gen, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].filter(i => !gen.malformed(i))
      .map(i => (gen.eventId(i), gen.tsMicros(i), gen.userId(i), gen.eventType(i),
        gen.valueCents(i) / 100.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"))
  }

  private def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || e.getCause == e) e else rootCause(e.getCause)

  /** Issues one read once no sink call is running; returns the nanoTime
    * at its start and at the ends of build, plan and exec, or the class of
    * what it threw. */
  private def read(ctx: Ctx, pipe: Pipe, r: Int): Either[String, (Long, Long, Long, Long)] = {
    val (_, q) = Reads(r % Reads.size)
    ctx.spark.sparkContext.setLocalProperty(EngineListener.SpanKey, s"r$r")
    val w0 = System.nanoTime()
    pipe.servedLock.readLock().lock()
    val t0 = System.nanoTime()
    if (t0 - w0 > 1000000L) ctx.trace.span(s"r$r", "queries", "wait_for_sink", w0, t0)
    try {
      val df = q(ctx.spark.read.parquet(pipe.served))
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.collect()
      val t3 = System.nanoTime()
      ctx.trace.span(s"r$r", "queries", "build", t0, t1)
      ctx.trace.span(s"r$r", "queries", "plan", t1, t2)
      ctx.trace.span(s"r$r", "queries", "exec", t2, t3)
      Right((t0, t1, t2, t3))
    } catch {
      case e: Exception =>
        val c = rootCause(e)
        val cls = if (c eq e) e.getClass.getName else s"${e.getClass.getName}<-${c.getClass.getName}"
        ctx.trace.span(s"r$r", "queries", "failed", t0, System.nanoTime(), "exception" -> cls)
        Left(cls)
    } finally {
      pipe.servedLock.readLock().unlock()
      ctx.spark.sparkContext.setLocalProperty(EngineListener.SpanKey, null)
    }
  }

  /** Latencies and per-query times of a set of reads. */
  private final class ReadLog {
    val latMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val byQuery = new ConcurrentHashMap[String, ConcurrentLinkedQueue[java.lang.Double]]()
    val planMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val execMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val failures = new ConcurrentLinkedQueue[String]()
    private val issued = new java.util.concurrent.atomic.AtomicInteger
    def attempted: Int = issued.get

    def issue(ctx: Ctx, pipe: Pipe, r: Int, dueNs: Long): Unit = {
      issued.incrementAndGet()
      read(ctx, pipe, r) match {
        case Right((t0, t1, t2, t3)) =>
          latMs.add((t3 - dueNs) / 1e6)
          byQuery.computeIfAbsent(Reads(r % Reads.size)._1, _ => new ConcurrentLinkedQueue())
            .add((t3 - t0) / 1e6)
          planMs.add((t2 - t0) / 1e6)
          execMs.add((t3 - t2) / 1e6)
        case Left(cls) => failures.add(cls)
      }
    }
    def lat: Seq[Double] = latMs.asScala.map(_.doubleValue).toSeq
  }

  private def ds(q: ConcurrentLinkedQueue[java.lang.Double]): Seq[Double] =
    q.asScala.map(_.doubleValue).toSeq

  private def parkUntil(ns: Long): Unit = {
    var now = System.nanoTime()
    while (now < ns) { LockSupport.parkNanos(ns - now); now = System.nanoTime() }
  }

  /** Correctness after the final drain: served table, Q1–Q5, corrupt
    * count. Returns the number of generated events not visible. */
  private def verify(ctx: Ctx, res: Result, pipe: Pipe, gen: Gen, n: Long,
      history: Option[DataFrame]): Long = {
    val spark = ctx.spark
    val events = HourlyAggregation(expectedEvents(spark, gen, n)).select(ServedCols.map(col): _*)
    val expected = history.fold(events)(h => h.select(ServedCols.map(col): _*).unionByName(events))
      .cache()
    val servedAll = spark.read.parquet(pipe.served).cache()
    val served = servedAll.select(ServedCols.map(col): _*)
    val keys = Seq("window_start", "event_type")
    val same = ServedCols.filterNot(keys.contains)
      .map(c => col(s"e.$c") <=> col(s"s.$c")).reduce(_ && _)
    val diff = expected.alias("e").withColumn("in_e", lit(true))
      .join(servedAll.alias("s"), keys, "full_outer")
      .agg(
        count(when(col("in_e").isNull || col("s.event_count").isNull || !same, 1)),
        coalesce(sum(greatest(lit(0L),
          col("e.event_count") - coalesce(col("s.event_count"), lit(0L)))), lit(0L)),
        count(when(col("s.created_at") === -1L, 1)),
        count(col("s.created_at")))
      .head()
    val (differing, missing, kept) = (diff.getLong(0), diff.getLong(1), diff.getLong(2))
    res.layers("sink.served_rows") = (diff.getLong(3).toDouble, "count")
    res.check("served_equals_batch_aggregation", differing == 0, s"$differing rows differ")
    if (history.isDefined)
      res.check("history_untouched", kept == HistoryRows, s"$kept of $HistoryRows history rows left")
    // the ten small read jobs run side by side
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val answers = Reads.map { case (name, q) =>
      name -> Future((q(served).collect().toSeq, q(expected).collect().toSeq))
    }
    for ((name, f) <- answers) {
      val (got, want) = Await.result(f, scala.concurrent.duration.Duration.Inf)
      res.check(s"read_${name}_matches_batch", got == want, s"$got vs $want")
    }
    var bad = 0L
    var i = 0L
    while (i < n) { if (gen.malformed(i)) bad += 1; i += 1 }
    val corrupt = pipe.corruptRecords
    res.check("corrupt_records_match_injected", corrupt == bad, s"$corrupt vs $bad")
    res.layers("sources.corrupt_records") = (corrupt.toDouble, "count")
    res.layers("sink.served_mb") = (dirBytes(new File(pipe.served)) / 1048576.0, "MB")
    expected.unpersist(); servedAll.unpersist()
    missing
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  /** Per-layer streaming numbers from the progress a traced run collected;
    * each trigger also becomes a span under its batch's id. */
  private def streamingLayers(ctx: Ctx, res: Result, ps: Seq[StreamingQueryProgress]): Unit = {
    def d(k: String) = ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
    for (p <- ps)
      ctx.trace.spanAt(s"b${p.batchId}", "streaming", "trigger",
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0),
        "input_rows" -> p.numInputRows)
    res.layers("streaming.batches") = (ps.size.toDouble, "count")
    res.layers("streaming.trigger_ms_p50") = (Stats.pct(d("triggerExecution"), 50), "ms")
    res.layers("streaming.trigger_ms_p99") = (Stats.pct(d("triggerExecution"), 99), "ms")
    res.layers("streaming.addBatch_ms_p50") = (Stats.pct(d("addBatch"), 50), "ms")
    res.layers("streaming.queryPlanning_ms_p50") = (Stats.pct(d("queryPlanning"), 50), "ms")
    res.layers("streaming.walCommit_ms_p50") = (Stats.pct(d("walCommit"), 50), "ms")
    res.layers("streaming.commitOffsets_ms_p50") = (Stats.pct(d("commitOffsets"), 50), "ms")
    res.layers("streaming.rows_per_batch_p50") =
      (Stats.pct(ps.filter(_.numInputRows > 0).map(_.numInputRows.toDouble), 50), "count")
    val ops = ps.map(_.stateOperators.toSeq)
    res.layers("streaming.state_rows_max") =
      (ops.map(_.map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0), "count")
    res.layers("streaming.state_mem_mb_max") =
      (ops.map(_.map(_.memoryUsedBytes).sum / 1048576.0).maxOption.getOrElse(0.0), "MB")
    res.layers("streaming.state_commit_ms_p50") =
      (Stats.pct(ops.map(_.map(_.commitTimeMs).sum.toDouble), 50), "ms")
    res.layers("streaming.dup_rows_dropped") = (ops.flatten.map(o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L))
      .sum.toDouble, "count")
    res.layers("streaming.rows_dropped_by_watermark") =
      (ops.flatten.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
  }

  /** Times of the measured reads `log`; job and failure counts of `all`. */
  private def readLayers(res: Result, log: ReadLog, all: Seq[ReadLog],
      engine: EngineListener): Unit = {
    for ((name, _) <- Reads)
      res.layers(s"queries.${name}_ms_p50") =
        (Option(log.byQuery.get(name)).map(q => Stats.pct(ds(q), 50)).getOrElse(Double.NaN), "ms")
    res.layers("queries.plan_ms_p50") = (Stats.pct(ds(log.planMs), 50), "ms")
    res.layers("queries.exec_ms_p50") = (Stats.pct(ds(log.execMs), 50), "ms")
    val readJobs = engine.jobsBySpan.asScala.collect { case (k, v) if k.startsWith("r") => v.get }.sum
    res.layers("queries.jobs_per_read") =
      (readJobs.toDouble / math.max(1, all.map(_.attempted).sum), "count")
    res.layers("queries.read_failures") = (all.map(_.failures.size).sum.toDouble, "count")
  }

  /** Engine counters over a measured window of `wallS` seconds. */
  def engineLayers(res: Result, e: EngineListener, wallS: Double, cores: Int): Unit = {
    res.layers("engine.jobs") = (e.jobs.get.toDouble, "count")
    res.layers("engine.stages") = (e.stages.get.toDouble, "count")
    res.layers("engine.tasks") = (e.tasks.get.toDouble, "count")
    res.layers("engine.task_s") = (e.taskMs.get / 1000.0, "s")
    res.layers("engine.core_util") = (e.coreUtil(wallS, cores), "ratio")
    res.layers("engine.single_task_stages") = (e.singleTaskStages.get.toDouble, "count")
    res.layers("engine.stage_skew_max") = (e.stageSkewMax, "ratio")
    res.layers("engine.shuffle_mb") = (e.shuffleBytes.get / 1048576.0, "MB")
    res.layers("engine.spill_mb") = (e.spillBytes.get / 1048576.0, "MB")
    res.layers("engine.gc_s") = (e.gcMs.get / 1000.0, "s")
  }

  /** The sink's flush cadence on stream_steady, about twice what one
    * trigger takes: the number of flushes in a run is then fixed, and the
    * CPU per record follows what one flush costs. */
  val CadenceMs = 5000L

  /** stream_steady: open-loop ingest at 1,000 ev/s in 10 ms ticks, flushed
    * every `CadenceMs`, with an open-loop reader issuing Q1–Q5 at 1 read/s
    * beside it. */
  def steady(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    val rate = 1000
    val tickMs = 10
    val perTick = rate * tickMs / 1000
    // one simulated hour per six wall seconds, so windows close and the
    // watermark evicts state within a run
    val gen = Gen(ctx.seed, users = 500, startMicros = Gen.LiveStart,
      microsPerEvent = 600L * 1000000L / rate, dupDelayMin = 2L * rate, dupDelayMax = 5L * rate)
    val progress = new ProgressListener
    val served = new File(ctx.out, "served").getAbsolutePath

    val sessionS = ctx.sinceStart
    history(spark, ctx.seed).coalesce(1).write.mode("overwrite").parquet(served)
    val seededS = ctx.sinceStart - sessionS
    val pipe = new Pipe(ctx, served, s"$CadenceMs milliseconds")
    pipe.awaitCommitted(pipe.firstOffset)
    val prepS = ctx.sinceStart - sessionS - seededS
    if (ctx.traced) spark.streams.addListener(progress)
    ctx.startEngine()

    // open-loop generator: tick k is due at start + k * tick; its records
    // are built before the due time and appended at it
    final case class Tick(k: Long, dueNs: Long, appendNs: Long, offset: Long)
    val ticks = new ConcurrentLinkedQueue[Tick]()
    val setupS = ctx.sinceStart
    val gauge = new HostGauge
    // Flushes fire on multiples of the cadence in wall-clock time. Traffic
    // starts on one, and the measured window one flush of warm-up later,
    // so each flush covers the same events on every run and the measured
    // ticks are flushed by exactly seconds ÷ cadence flushes of their own.
    // Both start 50 ms before a flush, so that a late last tick still
    // makes its flush.
    val nowMs = System.currentTimeMillis()
    val startMs = (nowMs + 50 + CadenceMs - 1) / CadenceMs * CadenceMs - 50
    val startNs = System.nanoTime() + (startMs - nowMs) * 1000000L
    val measureFrom = startNs + CadenceMs * 1000000L
    val measureTo = measureFrom + ctx.seconds * 1000000000L
    var dups = 0L
    // the generator and the read pool stay alive until the CPU of the
    // whole traffic has been read, so that it includes all of their time
    val appended = new java.util.concurrent.CountDownLatch(1)
    val readsDone = new java.util.concurrent.CountDownLatch(1)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val genThread = new Thread(() => {
      var k = 0L
      var due = startNs
      while (due < measureTo) {
        val (recs, d) = gen.records(k * perTick, (k + 1) * perTick)
        dups += d
        parkUntil(due)
        val at = System.nanoTime()
        val off = pipe.append(recs)
        ticks.add(Tick(k, due, at, off))
        ctx.trace.span(s"t$k", "gen", "append", at, System.nanoTime(), "offset" -> off)
        k += 1
        due = startNs + k * tickMs * 1000000L
      }
      appended.countDown()
      drained.await()
    }, "perfbench-gen")
    // reads start with the traffic, so each query has run before the
    // measured window, and end with it, so every run issues the same
    // number. Reads in the warm-up count as attempted, not in latencies.
    // Each read is issued at its due time on a small pool, whatever the
    // reads before it are doing: reads held up by a sink call then run
    // side by side once it ends, instead of queueing one behind another.
    val warmReads = new ReadLog
    val reads = new ReadLog
    val readPool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val readThread = new Thread(() => {
      val issued = mutable.ArrayBuffer[java.util.concurrent.Future[_]]()
      var r = 0
      var due = startNs
      while (due < measureTo) {
        parkUntil(due)
        val (log, k, d) = (if (due < measureFrom) warmReads else reads, r, due)
        issued += readPool.submit((() => log.issue(ctx, pipe, k, d)): Runnable)
        r += 1
        due = startNs + r * 1000000000L
      }
      issued.foreach(_.get())
      readsDone.countDown()
    }, "perfbench-reader")
    // CPU is read over all the traffic: every tick, every read and every
    // flush up to the one that makes the last tick visible. That work is
    // the same on every run; a window that starts or ends mid-traffic
    // would hold more or fewer reads as their queue behind the sink varies.
    val cpu0 = CpuMeter.snapshot()
    genThread.start()
    readThread.start()
    parkUntil(measureFrom)
    ctx.note("measuring")
    val (cpu1, cpuEndNs) = try {
      appended.await()
      pipe.awaitCommitted(ticks.asScala.map(_.offset).max)
      readsDone.await()
      (CpuMeter.snapshot(), System.nanoTime())
    } finally {
      drained.countDown()
      readPool.shutdown()
    }
    readThread.join()
    genThread.join()
    readPool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    val endNs = System.nanoTime()
    gauge.stop()
    pipe.query.stop()
    if (ctx.traced) spark.streams.removeListener(progress)
    Main.recordCache(res, spark)
    ctx.note("drained")
    if (ctx.traced) {
      ctx.settle()
      engineLayers(res, ctx.engine, (endNs - startNs) / 1e9, ctx.cores)
    }

    val all = ticks.asScala.toSeq.sortBy(_.k)
    val n = all.size.toLong * perTick
    val measured = all.filter(t => t.dueNs >= measureFrom)
    val lat = measured.flatMap(t => pipe.visibleAt(t.offset).map(v => (v - t.dueNs) / 1e6))
    val missing = verify(ctx, res, pipe, gen, n, Some(history(spark, ctx.seed)))
    ctx.note("verified")
    res.check("every_tick_visible", lat.size == measured.size,
      s"${measured.size - lat.size} ticks never visible")

    val distinct = (0L until n).count(i => !gen.malformed(i)).toLong
    val measuredEvents = measured.map(t => (t.k * perTick until (t.k + 1) * perTick)
      .count(i => !gen.malformed(i))).sum
    val lastVisible = measured.lastOption.flatMap(t => pipe.visibleAt(t.offset)).getOrElse(endNs)
    val eps = measuredEvents / ((lastVisible - measured.head.dueNs) / 1e9)
    // CPU per 1,000 wire records over all the traffic, at the gauge's
    // reference speed
    val cpuS = gauge.normalize(CpuMeter.between(cpu0, cpu1), startNs, cpuEndNs)
    val records = n

    res.attempted = distinct + warmReads.attempted + reads.attempted
    res.failed = missing + warmReads.failures.size + reads.failures.size
    res.failures ++= warmReads.failures.asScala ++ reads.failures.asScala
    if (missing > 0) res.failures += "EventNotVisible"

    res.metrics("setup_s") = (setupS, "s")
    res.metrics("ingest_latency_p50_ms") = (Stats.pct(lat, 50), "ms")
    res.metrics("ingest_latency_p99_ms") = (Stats.pct(lat, 99), "ms")
    res.metrics("read_latency_p50_ms") = (Stats.pct(reads.lat, 50), "ms")
    res.metrics("read_latency_p99_ms") = (Stats.pct(reads.lat, 99), "ms")
    res.metrics("events_per_s") = (eps, "ev/s")
    res.metrics("cpu_ms_per_1k_events") = (cpuS * 1e6 / records, "ms")
    res.metrics("failed_ratio") = (res.failed.toDouble / res.attempted, "ratio")

    res.slots("setup_s") = (setupS, "s")
    res.slots("cpu_ms_per_unit") = res.metrics("cpu_ms_per_1k_events")

    res.layers("streaming.flushes") =
      (pipe.batchesCovering(all.head.offset, all.last.offset).toDouble, "count")
    res.layers("host.gauge_ms") = (gauge.medianMs(startNs, cpuEndNs), "ms")
    res.layers("gen.events") = (n.toDouble, "count")
    res.layers("gen.duplicates") = (dups.toDouble, "count")
    res.layers("gen.malformed") = ((0L until n).count(i => gen.malformed(i)).toDouble, "count")
    res.layers("queries.reads") = (reads.attempted.toDouble, "count")
    res.layers("gen.late_ms_p99") = (Stats.pct(all.map(t => (t.appendNs - t.dueNs) / 1e6), 99), "ms")
    res.layers("sink.upsert_ms_p50") = (Stats.pct(ds(pipe.sinkMs), 50), "ms")
    res.layers("sink.upsert_ms_p99") = (Stats.pct(ds(pipe.sinkMs), 99), "ms")
    res.layers("setup.session_s") = (sessionS, "s")
    res.layers("setup.prepare_s") = (seededS + prepS, "s")
    if (ctx.traced) {
      streamingLayers(ctx, res, progress.progress.asScala.toSeq)
      readLayers(res, reads, Seq(warmReads, reads), ctx.engine)
      val batches = ctx.engine.jobsBySpan.asScala.count(_._1.startsWith("b"))
      val batchJobs = ctx.engine.jobsBySpan.asScala.collect { case (k, v) if k.startsWith("b") => v.get }.sum
      res.layers("streaming.jobs_per_trigger") = (batchJobs.toDouble / math.max(1, batches), "count")
    }
    res
  }

  /** ingest_bulk: closed-loop ingest of 50,000-event chunks (each appended
    * only after the previous one commits) into an empty served table. */
  def bulk(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    val chunk = 50000
    val maxChunks = 20
    // 1,000,000 events over 30 days of event time
    val gen = Gen(ctx.seed, users = 1000, startMicros = Gen.LiveStart,
      microsPerEvent = 30L * 24 * 3600 * 1000000L / (chunk.toLong * maxChunks),
      dupDelayMin = 2000, dupDelayMax = 5000)
    val progress = new ProgressListener
    val served = new File(ctx.out, "served").getAbsolutePath

    // chunks are built ahead of their append by a producer thread
    final case class Chunk(c: Int, recs: Array[String], dups: Int)
    val ready = new ArrayBlockingQueue[Chunk](2)
    val cpu = new CpuMeter
    val producer = new Thread(() => {
      try for (c <- 0 until maxChunks) {
        val (recs, d) = gen.records(c.toLong * chunk, (c + 1).toLong * chunk)
        ready.put(Chunk(c, recs, d))
      } catch { case _: InterruptedException => () }
      finally cpu.exiting()
    }, "perfbench-gen")
    producer.setDaemon(true)

    val sessionS = ctx.sinceStart
    val pipe = new Pipe(ctx, served, "0 seconds")
    pipe.query.processAllAvailable()
    val setupS = ctx.sinceStart
    val prepS = setupS - sessionS
    val gauge = new HostGauge
    producer.start()
    // warm-up chunk: untimed, but its events count for correctness
    val first = ready.take()
    pipe.append(first.recs)
    pipe.query.processAllAvailable()
    if (ctx.traced) spark.streams.addListener(progress)
    ctx.startEngine()

    val lat = mutable.ArrayBuffer[Double]()
    val late = mutable.ArrayBuffer[Double]()
    var dups = first.dups.toLong
    var fed = 1
    cpu.begin()
    val startNs = System.nanoTime()
    var lastCommit = startNs
    while (fed < maxChunks && System.nanoTime() - startNs < ctx.seconds * 1000000000L) {
      val w0 = System.nanoTime()
      val ch = ready.take()
      val t0 = System.nanoTime()
      late += (t0 - w0) / 1e6
      pipe.append(ch.recs)
      pipe.query.processAllAvailable()
      lastCommit = System.nanoTime()
      ctx.trace.span(s"c${ch.c}", "gen", "append_to_commit", t0, lastCommit)
      lat += (lastCommit - t0) / 1e6
      dups += ch.dups
      fed += 1
    }
    producer.interrupt()
    producer.join()
    val wallS = (lastCommit - startNs) / 1e9
    val cpuUsed = gauge.normalize(cpu.seconds, startNs, lastCommit)
    gauge.stop()
    if (ctx.traced) spark.streams.removeListener(progress)

    // reads against the bulk-built table once ingest is over
    val reads = new ReadLog
    for (r <- 0 until 2 * Reads.size) reads.issue(ctx, pipe, r, System.nanoTime())
    val endNs = System.nanoTime()
    pipe.query.stop()
    Main.recordCache(res, spark)
    if (ctx.traced) {
      ctx.settle()
      engineLayers(res, ctx.engine, (endNs - startNs) / 1e9, ctx.cores)
    }

    val n = fed.toLong * chunk
    val missing = verify(ctx, res, pipe, gen, n, None)
    val timedEvents = (chunk.toLong until n).count(i => !gen.malformed(i)).toLong
    val eps = timedEvents / wallS
    res.attempted = (0L until n).count(i => !gen.malformed(i)).toLong + reads.attempted
    res.failed = missing + reads.failures.size
    res.failures ++= reads.failures.asScala
    if (missing > 0) res.failures += "EventNotVisible"

    res.metrics("setup_s") = (setupS, "s")
    res.metrics("bulk_events_per_s") = (eps, "ev/s")
    res.metrics("cpu_ms_per_1k_events") = (cpuUsed * 1e6 / timedEvents, "ms")
    res.metrics("ingest_latency_p50_ms") = (Stats.pct(lat, 50), "ms")
    res.metrics("ingest_latency_p99_ms") = (Stats.pct(lat, 99), "ms")
    res.metrics("read_latency_p50_ms") = (Stats.pct(reads.lat, 50), "ms")
    res.metrics("failed_ratio") = (res.failed.toDouble / res.attempted, "ratio")

    res.slots("setup_s") = (setupS, "s")
    res.slots("cpu_ms_per_unit") = res.metrics("cpu_ms_per_1k_events")

    res.layers("gen.events") = (n.toDouble, "count")
    res.layers("gen.duplicates") = (dups.toDouble, "count")
    res.layers("gen.malformed") = ((0L until n).count(i => gen.malformed(i)).toDouble, "count")
    res.layers("queries.reads") = (reads.attempted.toDouble, "count")
    res.layers("gen.late_ms_p99") = (Stats.pct(late, 99), "ms")
    res.layers("sink.upsert_ms_p50") = (Stats.pct(ds(pipe.sinkMs), 50), "ms")
    res.layers("sink.upsert_ms_p99") = (Stats.pct(ds(pipe.sinkMs), 99), "ms")
    res.layers("setup.session_s") = (sessionS, "s")
    res.layers("setup.prepare_s") = (prepS, "s")
    res.layers("host.gauge_ms") = (gauge.medianMs(startNs, lastCommit), "ms")
    if (ctx.traced) {
      streamingLayers(ctx, res, progress.progress.asScala.toSeq)
      readLayers(res, reads, Seq(reads), ctx.engine)
    }
    res
  }
}
