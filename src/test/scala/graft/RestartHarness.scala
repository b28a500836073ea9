package graft

import graft.streaming.StreamingAgg

/** Child-process entry for the cross-JVM streaming restart spec.
  *
  * The reference's crash contract (S4 x O14: offset commit coupled to an
  * idempotent flush, `aggregation_service.py:157-158` resume path) is
  * "die, restart in a NEW process, resume from durable state". In-session
  * replay specs can't prove that — a restarted query inside one JVM shares
  * the SparkSession, the loaded state store providers and every static
  * cache with its predecessor. This main is launched by StreamingAggSpec
  * as a separate `java` process: it builds its own SparkSession
  * ([[Harness.session]] on 4 cores), runs the windowed aggregation from a
  * file source with a durable checkpoint into the idempotent LWW parquet
  * sink, drains what's available, then HALTS
  * (no query.stop(), no SparkSession.stop(), shutdown hooks skipped) so
  * everything the next incarnation knows must come from the checkpoint
  * and sink directories on disk.
  */
object RestartHarness {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, ckptDir, targetDir) = args
    val spark = Harness.session(4)
    spark.sparkContext.setLogLevel("ERROR")

    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    // Update mode drops rows older than the watermark, and the parquet
    // files replayed here arrive in arbitrary time order — a grace wider
    // than the table's 30-day span keeps the watermark below every event,
    // so the spec's exactly-once equality isn't confounded by late-data
    // policy (which the watermark append-mode spec covers separately).
    val agg = StreamingAgg.hourlyAggStream(spark, stream, grace = "45 days")
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingAgg.upsertBatch(spark, batch, targetDir, id)
      }
      .start()
    q.processAllAvailable()
    // Crash, don't shut down: offsets for processed batches are committed in
    // the checkpoint, but nothing gets a graceful close. halt() skips
    // shutdown hooks too, so not even Spark's own cleanup runs.
    Runtime.getRuntime.halt(0)
  }
}
