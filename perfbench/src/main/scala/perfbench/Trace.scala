package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans from the benchmark's own code around each call into a layer.
  * Always cheap to call; spans are kept only in a traced run, in memory,
  * and written once at the end. Spans of one batch, read or query share
  * an id. */
final class Trace(val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val spans = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()

  private val originWallMs = System.currentTimeMillis()

  def span(id: String, layer: String, name: String, startNs: Long, endNs: Long,
      attrs: (String, Any)*): Unit =
    add(id, layer, name, (startNs - origin) / 1e6, (endNs - startNs) / 1e6, attrs)

  /** A span the engine reported in wall-clock time. */
  def spanAt(id: String, layer: String, name: String, startEpochMs: Long, durMs: Double,
      attrs: (String, Any)*): Unit =
    add(id, layer, name, (startEpochMs - originWallMs).toDouble, durMs, attrs)

  private def add(id: String, layer: String, name: String, startMs: Double, durMs: Double,
      attrs: Seq[(String, Any)]): Unit =
    if (enabled) {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", id); m.put("layer", layer); m.put("name", name)
      m.put("start_ms", startMs)
      m.put("dur_ms", durMs)
      attrs.foreach { case (k, v) => m.put(k, v) }
      spans.add(m)
    }

  def all: java.util.List[java.util.Map[String, Any]] = new java.util.ArrayList(spans)
}

/** Engine-level counters for one workload (traced run only). Jobs are
  * attributed to the span id the driver thread set as a local property,
  * or to the streaming batch that launched them. */
final class EngineListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val singleTaskStages = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val jobsBySpan = new ConcurrentHashMap[String, AtomicLong]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val skews = new ConcurrentLinkedQueue[java.lang.Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val p = Option(e.properties)
    val key = p.flatMap(x => Option(x.getProperty(EngineListener.SpanKey)))
      .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map("b" + _))
    key.foreach(k => jobsBySpan.computeIfAbsent(k, _ => new AtomicLong).incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
      .add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) singleTaskStages.incrementAndGet()
    val d = Option(stageTaskMs.remove(e.stageInfo.stageId)).map(_.asScala.map(_.toDouble).toSeq)
      .getOrElse(Seq.empty)
    if (d.size >= 2) {
      val med = Stats.pct(d, 50)
      skews.add(if (med > 0) d.max / med else 1.0)
    }
  }

  def stageSkewMax: Double = skews.asScala.map(_.doubleValue).maxOption.getOrElse(1.0)

  /** task seconds ÷ (wall seconds × cores) */
  def coreUtil(wallS: Double, cores: Int): Double = taskMs.get / 1000.0 / (wallS * cores)
}

object EngineListener {
  val SpanKey = "perfbench.span"
}

/** Collects streaming progress in a traced run. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

/** CPU time of the program's Java threads (Spark tasks, the stream and
  * driver threads, the benchmark's own), without the JVM's JIT and GC
  * threads, which ThreadMXBean does not list: a measure of work done
  * that does not stretch while threads wait, though it drifts with the
  * host's speed (see `HostGauge`). A thread
  * the benchmark starts adds its own time with `exiting` before it ends.
  * Without `exiting`, compare two snapshots taken while that thread lives. */
final class CpuMeter {
  import CpuMeter._
  private val exited = new AtomicLong
  @volatile private var start = Map.empty[Long, Long]

  def begin(): Unit = { start = snapshot(); exited.set(0) }

  /** Call last thing on a thread that ends before `seconds` is read. */
  def exiting(): Unit = {
    val id = Thread.currentThread().getId
    exited.addAndGet(mx.getCurrentThreadCpuTime - start.getOrElse(id, 0L))
  }

  /** CPU seconds since `begin`. */
  def seconds: Double = between(start, snapshot()) + exited.get / 1e9
}

object CpuMeter {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
  private val excluded = ConcurrentHashMap.newKeySet[Long]()

  /** Leaves a thread of the benchmark's own out of every snapshot. */
  def exclude(id: Long): Unit = excluded.add(id)

  /** CPU nanoseconds of every live thread, by thread id. */
  def snapshot(): Map[Long, Long] =
    mx.getAllThreadIds.filterNot(id => excluded.contains(id))
      .map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU seconds spent between two snapshots by the threads alive at the
    * second; a thread that ended in between drops out. */
  def between(from: Map[Long, Long], to: Map[Long, Long]): Double =
    to.map { case (id, t) => t - from.getOrElse(id, 0L) }.sum / 1e9
}

/** How fast the host runs a fixed piece of work right now. On a shared
  * virtual machine the CPU time that the same work takes drifts by a
  * fifth and more from one minute to the next (the generator's constant
  * work per flush interval takes from 0.08 to 0.15 CPU seconds). This
  * thread times a fixed, allocation-free kernel (xorshift steps over a
  * cache-resident and a 32 MB table) in thread CPU time every 50 ms while
  * a workload runs; CPU measures divided by its median over the same span
  * and multiplied by `RefMs` are on a common footing across runs. It uses
  * about 3% of one core and is left out of every `CpuMeter` snapshot. */
final class HostGauge {
  import HostGauge._
  private val samples = new ConcurrentLinkedQueue[(Long, Double)]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    var k = 0
    var sink = 0
    while (k < 200) { sink += kernel(k); k += 1 } // compiled before sampling
    while (running) {
      val c0 = mx.getCurrentThreadCpuTime
      sink += kernel(k)
      samples.add((System.nanoTime(), (mx.getCurrentThreadCpuTime - c0) / 1e6))
      k += 1
      Thread.sleep(50)
    }
    if (sink == 42) System.err.println("") // keeps the kernel from being elided
  }, "perfbench-gauge")
  thread.setDaemon(true)
  thread.start()
  CpuMeter.exclude(thread.getId)

  /** Median kernel CPU milliseconds of the samples taken in [fromNs, toNs). */
  def medianMs(fromNs: Long, toNs: Long): Double =
    Stats.median(samples.asScala.collect { case (t, ms) if t >= fromNs && t < toNs => ms })

  /** Scales CPU `x` measured over [fromNs, toNs) to the reference speed. */
  def normalize(x: Double, fromNs: Long, toNs: Long): Double = x * RefMs / medianMs(fromNs, toNs)

  def stop(): Unit = { running = false; thread.join() }
}

object HostGauge {
  /** The kernel's usual CPU time on the 4-core host the bounds were set on. */
  val RefMs = 1.5

  private val big = Array.tabulate(1 << 23)(_ * 31)
  private val small = Array.tabulate(1 << 16)(_ * 17)

  private def kernel(seed: Int): Int = {
    var x = seed | 1
    var acc = 0
    var i = 0
    while (i < 300000) { x ^= x << 13; x ^= x >>> 17; x ^= x << 5; acc += small(x & 0xFFFF); i += 1 }
    i = 0
    while (i < 30000) { x ^= x << 13; x ^= x >>> 17; x ^= x << 5; acc += big(x & 0x7FFFFF); i += 1 }
    acc
  }
}
