package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: session caches, per-session pin registries and fit-pin
  * registries live in `operators/PlanCache.scala` only. A
  * `ConcurrentHashMap[SparkSession, …]`, a `mutable.Map` holding
  * DataFrames, or a `ConcurrentHashMap` / `mutable.Map` whose value type
  * ends in `Fit` anywhere else under `src/main/scala` is a hand-rolled
  * copy of one of them (the last is a `FitPins`) and fails here.
  * Likewise `SparkSession.builder` is called only in `Harness.scala`.
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
        |private val ivfFits =
        |  new java.util.concurrent.ConcurrentHashMap[String, IvfFit]()
        |private val caFits = scala.collection.mutable.HashMap
        |  .empty[(String, Int), Similarity.CaFit]
        |private val caPins = new FitPins[(Int, Long), CaFit]
        |""".stripMargin
    assert(violations(src) == Seq("live", "frames", "ivfFits", "caFits"))
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
      "session cache outside operators/PlanCache.scala (use PlanCache, FitMemo, " +
        s"FitPins or the PlanCache pin registry): ${found.mkString(", ")}")
  }

  test("only Harness.scala builds a SparkSession") {
    assert(buildsSession("val s = SparkSession.builder()\n  .getOrCreate()"))
    assert(!buildsSession("/** SparkSession.builder() */ // SparkSession.builder\n" +
      "val q = \"//\"; val c = '\"'"))
    val files = scalaFiles(new java.io.File("src/main/scala"))
      .filterNot(_.getName == "Harness.scala")
    assert(files.size > 50, s"scanned only ${files.size} files")
    val found = files.filter(f =>
      buildsSession(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
    assert(found.isEmpty,
      s"SparkSession.builder outside Harness.scala (use Harness.session()): ${found.mkString(", ")}")
  }
}

object SessionCacheGuardSpec {
  private val sessionKeyed =
    """ConcurrentHashMap\s*\[\s*(?:[\w.]+\.)?SparkSession\s*,""".r
  private val mutableMap =
    """mutable\s*\.\s*(?:Map|HashMap)\s*(?:\.\s*empty\s*)?\[""".r
  private val concurrentMap = """ConcurrentHashMap\s*\[""".r
  private val valName = """\bva[lr]\s+(\w+)""".r

  /** String and char literals (kept) or comments (dropped). */
  private val literalOrComment =
    """(?s)("{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])')|//[^\n]*|/\*.*?\*/""".r
  private val builderCall = """SparkSession\s*\.\s*builder\b""".r

  /** `text` calls `SparkSession.builder` outside comments. */
  def buildsSession(text: String): Boolean = {
    val code = literalOrComment.replaceAllIn(text,
      m => scala.util.matching.Regex.quoteReplacement(Option(m.group(1)).getOrElse(" ")))
    builderCall.findFirstIn(code).isDefined
  }

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

  /** Names of the vals declaring a session-keyed map, a DataFrame map or
    * a map of fits.
    */
  def violations(text: String): Seq[String] = {
    def holding(maps: scala.util.matching.Regex, value: String) =
      maps.findAllMatchIn(text)
        .filter(m => lastTypeArg(text, m.end - 1).matches(value))
        .map(_.start)
    val session = sessionKeyed.findAllMatchIn(text).map(_.start)
    val frames = holding(mutableMap, """(?:[\w.]+\.)?DataFrame""")
    val fit = """(?:[\w.]+\.)?\w*Fit"""
    val fits = holding(concurrentMap, fit) ++ holding(mutableMap, fit)
    (session ++ frames ++ fits).toSeq.distinct.sorted.map { at =>
      valName.findAllMatchIn(text.substring(0, at)).toSeq.lastOption
        .fold("<anonymous>")(_.group(1))
    }
  }
}
