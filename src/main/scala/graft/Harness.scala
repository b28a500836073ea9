package graft

import graft.operators.PlanCache
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every main shares: the local session, the untimed warmup, the
  * query selection and the run-and-release step around each query. Each
  * main keeps only its own per-query body (timing, parquet dump, listener
  * row, explain file).
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** Local cores: `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session recipe, for the mains (`cores` = [[cpus]]), the test
    * suites and the streaming restart child: `local[cores]` with one
    * shuffle partition per core, AQE on, UTC, no UI, and the native SQL
    * functions of [[GraftExtensions]].
    */
  def session(cores: Int): SparkSession = {
    val n = cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Scan every table at `sfDir` once, then run the flagship entry, so
    * parquet-footer reads and codegen warm-up do not land on whichever
    * query first touches a table. Untimed; failures are ignored. The
    * loaders are Tables': a raw read of events.parquet would throw on its
    * nanosecond timestamps and silently skip the most-used table.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    val loaders: Seq[Query] =
      Seq(Tables.events, Tables.lineitem, Tables.orders, Tables.customer,
        Tables.supplier, Tables.part, Tables.nation, Tables.region,
        Tables.documents, Tables.embeddings)
    for (load <- loaders)
      try load(spark, sfDir).count()
      catch { case _: Throwable => }
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
  }

  /** The registry queries sorted by name; with `subset` (comma-separated
    * names) only those. An unknown name is rejected before anything runs,
    * so a typo cannot silently select nothing.
    */
  def select(subset: Option[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val keep = subset.map(_.split(",").toSet)
    val unknown = keep.fold(Seq.empty[String])(_.diff(all.keySet).toSeq.sorted)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    all.toSeq.sortBy(_._1).filter { case (name, _) => keep.forall(_(name)) }
  }

  /** Run one query's `body`, then [[PlanCache.releasePerQuery]] in
    * `finally`: the pins a query leaves must not outlive it, and a body
    * that times itself has stopped its timer before the release. Returns
    * the body's value, or what it threw.
    */
  def run[A](spark: SparkSession)(body: => A): Either[Throwable, A] =
    try Right(body)
    catch { case e: Throwable => Left(e) }
    finally PlanCache.releasePerQuery(spark)
}
