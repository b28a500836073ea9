package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import org.apache.spark.sql.SparkSession

/** What one workload run hands back. `metrics` are the end-to-end numbers
  * under the names the benchmark doc gives them, `slots` the same numbers
  * under the workload-independent names BENCHMARK.json gates on, and
  * `layers` the per-layer numbers of a traced run. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val slots = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = ok
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }
}

final case class Ctx(
    spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
    trace: Trace, engine: EngineListener, out: File, data: String, cores: Int,
    jvmStartMs: Long) {
  /** Seconds since the JVM started. */
  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Logs a phase boundary with the seconds since the JVM started. */
  def note(phase: String): Unit = System.err.println(f"[perfbench] $sinceStart%.2f s: $phase")

  /** Counts engine work from here on, in a traced run only. */
  def startEngine(): Unit = if (traced) spark.sparkContext.addSparkListener(engine)

  /** Listener events arrive asynchronously; let them land before reading. */
  def settle(): Unit = if (traced) Thread.sleep(1000)
}

/** Benchmark entry point: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --out <dir> --data <harness tables dir>`.
  * Writes `<out>/result.json` (and `<out>/spans.json` when traced); the
  * run.py wrapper turns that into the benchmark's output line. */
object Main {
  def session(cores: Int, out: File): SparkSession = {
    val tmp = new File(out, "tmp"); tmp.mkdirs()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(out, "checkpoints").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val out = new File(a("out"))
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val traced = a.getOrElse("trace", "0") == "1"
    val trace = new Trace(traced)
    val spark = session(cores, out)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toInt, traced, trace,
      new EngineListener, out, a.getOrElse("data", ""), cores, jvmStart)

    val res = workload match {
      case "stream_steady" => Streams.steady(ctx)
      case "ingest_bulk" => Streams.bulk(ctx)
      case "batch_suite" => Suite.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced && workload == "ingest_bulk") {
      // scaling baseline: the same closed loop on one core
      ctx.spark.stop()
      val one = new File(out, "one-core")
      val single = session(1, one)
      try {
        val r1 = Streams.bulk(ctx.copy(spark = single, traced = false,
          trace = new Trace(false), out = one, cores = 1))
        res.layers("engine.bulk_eps_1core") = r1.metrics("bulk_events_per_s")
      } finally single.stop()
    }

    val env = new java.util.LinkedHashMap[String, Any]()
    env.put("seed", ctx.seed)
    env.put("nproc", Runtime.getRuntime.availableProcessors)
    env.put("cores", cores)
    env.put("driver_max_memory_mb", Runtime.getRuntime.maxMemory / (1 << 20))
    env.put("spark_version", ctx.spark.version)
    env.put("jvm_version", System.getProperty("java.version") + " " + System.getProperty("java.vm.name"))
    write(new File(out, "result.json"), json(workload, traced, res, env))
    if (traced) write(new File(out, "spans.json"), trace.all)
    ctx.spark.stop()
  }

  /** Block-manager storage memory the program holds once a workload's
    * measured part is over, before the benchmark's own checks cache
    * anything. */
  def recordCache(res: Result, spark: SparkSession): Unit = {
    val mb = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / (1 << 20)
    res.layers("engine.cache_mb") = (mb, "MB")
    res.metrics("cache_mb") = (mb, "MB")
  }

  private def metricMap(m: mutable.LinkedHashMap[String, (Double, String)]) = {
    val j = new java.util.LinkedHashMap[String, Any]()
    m.foreach { case (k, (v, u)) =>
      val e = new java.util.LinkedHashMap[String, Any]()
      e.put("value", v); e.put("unit", u); j.put(k, e)
    }
    j
  }

  private def json(workload: String, traced: Boolean, r: Result,
      env: java.util.Map[String, Any]): java.util.Map[String, Any] = {
    val j = new java.util.LinkedHashMap[String, Any]()
    j.put("workload", workload)
    j.put("traced", traced)
    j.put("env", env)
    j.put("correct", r.checks.values.forall(identity))
    val c = new java.util.LinkedHashMap[String, Any]()
    r.checks.foreach { case (k, v) => c.put(k, v) }
    j.put("checks", c)
    j.put("attempted", r.attempted)
    j.put("failed", r.failed)
    val f = new java.util.LinkedHashMap[String, Any]()
    r.failures.groupBy(identity).foreach { case (k, v) => f.put(k, v.size) }
    j.put("failures", f)
    j.put("metrics", metricMap(r.metrics))
    j.put("slots", metricMap(r.slots))
    j.put("layers", metricMap(r.layers))
    j
  }

  private val mapper = new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)

  def write(f: File, v: AnyRef): Unit =
    Files.writeString(f.toPath, mapper.writeValueAsString(v))
}
