package graft

import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * registry queries to files (plans/rNN/<query>_{before,after}.txt — the
  * judge checks plan claims against these). Not part of the driver
  * contract; it builds Bench's session ([[Harness.session]]) so the
  * dumped plan is the plan the bench times.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Writes <outDir>/<name>_<suffix>.txt per query (all queries if no list).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val queries = Harness.select(args.lift(3))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    for ((name, fn) <- queries)
      Harness.run(spark) {
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), text(fn(spark, sfDir)))
      }.left.foreach(e => System.err.println(s"[plandump] $name failed: ${e.getMessage}"))
    spark.stop()
  }

  /** The text dumped for one query: its formatted explain. */
  def text(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
}
