package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: session caches and per-session pin registries live in
  * `operators/PlanCache.scala` only. A `ConcurrentHashMap[SparkSession, …]`
  * or a `mutable.Map` holding DataFrames anywhere else under
  * `src/main/scala` is a hand-rolled copy of one of them and fails here.
  */
class SessionCacheGuardSpec extends AnyFunSuite {
  import SessionCacheGuardSpec._

  /** (file name, declared val) pairs allowed to keep their own map.
    * Dedup.clusterCache keys on two frames and stores a lazy plan over
    * the label checkpoint, not a checkpoint of its own: folding it into
    * PlanCache would add a checkpoint of the result.
    */
  private val allowed = Set(("Dedup.scala", "clusterCache"))

  test("the scanner flags both hand-rolled shapes (and not other maps)") {
    val src =
      """private val live = new java.util.concurrent.ConcurrentHashMap[
        |  org.apache.spark.sql.SparkSession, DataFrame]()
        |private val frames = scala.collection.mutable.Map
        |  .empty[((String, String, String), Int), DataFrame]
        |private val fits = new ConcurrentHashMap[String, Array[Long]]()
        |private val ranks = mutable.Map.empty[(String, Int), (Long, Ranks)]
        |""".stripMargin
    assert(violations(src) == Seq("live", "frames"))
  }

  test("no session cache or pin registry outside PlanCache.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${sys.props("user.dir")})")
    val files = scalaFiles(root).filterNot(_.getName == "PlanCache.scala")
    assert(files.size > 50, s"scanned only ${files.size} files")
    val found = for {
      f <- files
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      name <- violations(text)
      if !allowed((f.getName, name))
    } yield s"${f.getPath}: $name"
    assert(found.isEmpty,
      "session cache outside operators/PlanCache.scala (use PlanCache, FitMemo " +
        s"or the PlanCache pin registry): ${found.mkString(", ")}")
  }
}

object SessionCacheGuardSpec {
  private val sessionKeyed =
    """ConcurrentHashMap\s*\[\s*(?:[\w.]+\.)?SparkSession\s*,""".r
  private val mutableMap =
    """mutable\s*\.\s*(?:Map|HashMap)\s*(?:\.\s*empty\s*)?\[""".r
  private val valName = """\bva[lr]\s+(\w+)""".r

  def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** The last top-level type argument of the bracket opening at `open`. */
  private def lastTypeArg(text: String, open: Int): String = {
    var depth = 0
    var start = open + 1
    var i = open
    while (i < text.length) {
      text(i) match {
        case '[' | '(' => depth += 1
        case ']' | ')' =>
          depth -= 1
          if (depth == 0) return text.substring(start, i).trim
        case ',' if depth == 1 => start = i + 1
        case _ =>
      }
      i += 1
    }
    ""
  }

  /** Names of the vals declaring a session-keyed map or a DataFrame map. */
  def violations(text: String): Seq[String] = {
    val session = sessionKeyed.findAllMatchIn(text).map(_.start)
    val frames = mutableMap.findAllMatchIn(text)
      .filter(m => lastTypeArg(text, m.end - 1).matches("""(?:[\w.]+\.)?DataFrame"""))
      .map(_.start)
    (session ++ frames).toSeq.sorted.map { at =>
      valName.findAllMatchIn(text.substring(0, at)).toSeq.lastOption
        .fold("<anonymous>")(_.group(1))
    }
  }
}
