package perfbench

import java.io.File

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** batch_suite: registry queries over the committed harness tables, each
  * forced as graft.Bench forces it (`queryExecution.toRdd.count()`), one
  * cold pass in the fresh session and then warm passes until the run's
  * seconds, counted from the start of the cold pass, are used up (at
  * least one). */
object Suite {
  /** One query or more per family: the reference path (its Q1 and Q5
    * reads), the star schema, consumers of the session plan cache
    * (dedup, similarity, text) and a single-task CPU-bound operator
    * (data quality). Trimmed to what a run's time allows. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "reference" -> Seq("q1_filter_paginate", "q5_grouped_sum"),
    "analytics" -> Seq("tpch_q1_pricing"),
    "dedup" -> Seq("ngram_jaccard_pairs"),
    "similarity" -> Seq("entity_matches"),
    "text" -> Seq("bm25_batch_topk"),
    "dataquality" -> Seq("column_stats"))
  val ReadQueries = Set("q1_filter_paginate", "q5_grouped_sum")
  private val names = Families.flatMap(_._2)
  private val familyOf = Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  final case class Run(name: String, buildS: Double, actS: Double) {
    def wallS: Double = buildS + actS
  }

  /** Table scans before timing, as graft.Bench warms up. */
  private def warmup(spark: SparkSession, dir: String): Unit = {
    val loaders = Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
      Tables.events, Tables.lineitem, Tables.orders, Tables.customer, Tables.supplier,
      Tables.part, Tables.nation, Tables.region, Tables.documents, Tables.embeddings)
    loaders.foreach(l => l(spark, dir).count())
    SparkEntry.entry(spark).count()
  }

  private def runOne(ctx: Ctx, name: String, pass: String): Either[String, Run] = {
    val spark = ctx.spark
    val id = s"$name/$pass"
    spark.sparkContext.setLocalProperty(EngineListener.SpanKey, id)
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, ctx.data)
      val t1 = System.nanoTime()
      df.queryExecution.toRdd.count()
      val t2 = System.nanoTime()
      ctx.trace.span(id, familyOf(name), "build", t0, t1)
      ctx.trace.span(id, familyOf(name), "act", t1, t2)
      Right(Run(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
    } catch {
      case e: Exception =>
        ctx.trace.span(id, familyOf(name), "failed", t0, System.nanoTime(),
          "exception" -> e.getClass.getName)
        Left(e.getClass.getName)
    } finally {
      graft.operators.DistributedRank.release(spark)
      graft.operators.Mixture.releaseDistMatched(spark)
      spark.sparkContext.setLocalProperty(EngineListener.SpanKey, null)
    }
  }

  def run(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    val sessionS = ctx.sinceStart
    warmup(spark, ctx.data)
    val setupS = ctx.sinceStart
    val prepS = setupS - sessionS
    ctx.startEngine()

    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0L
    def pass(label: String): Seq[Run] = names.flatMap { n =>
      attempted += 1
      runOne(ctx, n, label) match {
        case Right(r) => Some(r)
        case Left(cls) => failures += cls; None
      }
    }
    val gauge = new HostGauge
    ctx.note("measuring")
    val startNs = System.nanoTime()
    val cpu = new CpuMeter
    cpu.begin()
    val cold = pass("cold")
    val cpuCold = cpu.seconds
    ctx.note("cold pass done")
    val warm = mutable.ArrayBuffer[Seq[Run]]()
    // warm passes while another one still ends inside the run's seconds
    // (the cold pass alone may use them all up)
    var passNs = 0L
    while (warm.isEmpty || System.nanoTime() - startNs + passNs <= ctx.seconds * 1000000000L) {
      val p0 = System.nanoTime()
      warm += pass(s"warm${warm.size}")
      passNs = System.nanoTime() - p0
    }
    val endNs = System.nanoTime()
    val wallS = (endNs - startNs) / 1e9
    val cpuWarm = (cpu.seconds - cpuCold) / warm.size
    gauge.stop()
    ctx.note(s"${warm.size} warm passes done")
    Main.recordCache(res, spark)
    if (ctx.traced) { ctx.settle(); Streams.engineLayers(res, ctx.engine, wallS, ctx.cores) }

    // correctness, outside the timed window: each result beside its oracle
    // SQL, compared in DuckDB by run.py
    val results = new File(ctx.out, "results")
    for (n <- names) {
      try SparkEntry.queries(n)(spark, ctx.data).coalesce(1).write.mode("overwrite")
        .parquet(new File(results, n).getAbsolutePath)
      catch { case e: Exception => failures += e.getClass.getName; attempted += 1 }
      finally {
        graft.operators.DistributedRank.release(spark)
        graft.operators.Mixture.releaseDistMatched(spark)
      }
    }
    val oracle = new java.util.TreeMap[String, String]()
    SparkEntry.oracleSqlFor(spark, ctx.data).foreach { case (k, v) =>
      if (names.contains(k)) oracle.put(k, v)
    }
    Main.write(new File(results, "oracle_sql.json"), oracle)
    ctx.note("results written")
    res.check("every_query_has_an_oracle", oracle.size == names.size,
      s"${names.size - oracle.size} without oracle SQL")

    def total(rs: Seq[Run], f: Run => Double, keep: String => Boolean = _ => true) =
      rs.filter(r => keep(r.name)).map(f).sum
    val warmTotal = Stats.median(warm.map(total(_, _.wallS)))
    val coldTotal = total(cold, _.wallS)
    res.attempted = attempted
    res.failed = failures.size
    res.failures ++= failures

    res.metrics("setup_s") = (setupS, "s")
    res.metrics("suite_cold_s") = (coldTotal, "s")
    res.metrics("suite_warm_s") = (warmTotal, "s")
    res.metrics("failed_ratio") = (res.failed.toDouble / res.attempted, "ratio")
    res.metrics("query_p50_ms_cold") = (Stats.pct(cold.map(_.wallS * 1000), 50), "ms")
    res.metrics("read_latency_p50_ms") = (Stats.pct(
      warm.flatten.filter(r => ReadQueries(r.name)).map(_.wallS * 1000), 50), "ms")
    res.metrics("cpu_s_cold") = (cpuCold, "s")
    res.metrics("cpu_s_warm") = (cpuWarm, "s")
    res.metrics("cpu_ms_per_query") =
      (gauge.normalize(cpuCold + cpuWarm, startNs, endNs) * 1000 / names.size, "ms")
    res.metrics("queries_per_s") = (names.size / warmTotal, "1/s")

    res.slots("setup_s") = (setupS, "s")
    res.slots("cpu_ms_per_unit") = res.metrics("cpu_ms_per_query")

    for ((f, qs) <- Families) {
      val in: String => Boolean = qs.contains
      res.layers(s"batch.$f.cold_s") = (total(cold, _.wallS, in), "s")
      res.layers(s"batch.$f.warm_s") = (Stats.median(warm.map(total(_, _.wallS, in))), "s")
    }
    res.layers("batch.build_s") = (Stats.median(warm.map(total(_, _.buildS))), "s")
    res.layers("batch.act_s") = (Stats.median(warm.map(total(_, _.actS))), "s")
    res.layers("batch.cold_build_s") = (total(cold, _.buildS), "s")
    res.layers("batch.cold_act_s") = (total(cold, _.actS), "s")
    res.layers("batch.warm_passes") = (warm.size.toDouble, "count")
    res.layers("host.gauge_ms") = (gauge.medianMs(startNs, endNs), "ms")
    res.layers("setup.session_s") = (sessionS, "s")
    res.layers("setup.prepare_s") = (prepS, "s")
    res
  }
}
