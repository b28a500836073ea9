package graft

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round tooling (not part of the driver contract): run
  * named registry queries once each under a listener and print, per
  * query, wall seconds split into construction (the registry closure,
  * which for iterative operators runs jobs itself) vs action
  * (`toRdd.count()`), plus job/stage/task counts, summed executor task
  * time, and shuffle bytes. Separates "fixed per-job overhead dominated"
  * from "task-time dominated" — guide §1 (measure first) applied to a
  * 376-query suite where the Spark UI is disabled.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: runMain graft.Profile <sfDir> <q1,q2,...>")
      sys.exit(2)
    }
    val sfDir = args(0)
    val queries = Harness.select(Some(args(1)))
    val spark = Harness.session(Harness.cpus)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(): Unit }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        taskTimeMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        shufR.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    Harness.warmup(spark, sfDir)

    println(f"${"query"}%-32s ${"build_s"}%8s ${"act_s"}%8s jobs stages tasks tasktime_s shufMB")
    for ((name, fn) <- queries) {
      // run twice; the warm (second) run is what the bench's min-of-3
      // reports; the cold (first) run carries any session-cache build —
      // the cold/warm split the roundlog records per cached family
      for (round <- 0 to 1) Harness.run(spark) {
        jobs.set(0); stages.set(0); tasks.set(0)
        taskTimeMs.set(0); shufR.set(0); shufW.set(0)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        Thread.sleep(300) // let queued listener events drain
        val tag = if (round == 0) " [cold]" else ""
        println(f"$name%-32s ${(t1 - t0) / 1e9}%8.2f ${(t2 - t1) / 1e9}%8.2f ${jobs.get}%4d ${stages.get}%6d ${tasks.get}%5d ${taskTimeMs.get / 1e3}%10.2f ${(shufR.get + shufW.get) / 1e6}%6.1f$tag")
      }.left.foreach(e => System.err.println(s"[profile] $name failed: ${e.getMessage}"))
    }
    spark.stop()
  }
}
