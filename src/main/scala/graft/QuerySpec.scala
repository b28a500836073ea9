package graft

/** One registry query: its name, its engine build and the DuckDB SQL that
  * checks it. `oracle` is None only where [[AnnOracles]] pins the SQL from
  * a fit at runtime. The SQL is built on first use, so looking up a build
  * does not build every oracle.
  */
final class QuerySpec(val name: String, val build: Harness.Query, sql: => Option[String]) {
  lazy val oracle: Option[String] = sql
}

object QuerySpec {

  /** The specs keyed by name. A name given twice is rejected, naming it,
    * instead of the later spec silently replacing the earlier one.
    */
  def index(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(s => s.name -> s).toMap
  }
}
