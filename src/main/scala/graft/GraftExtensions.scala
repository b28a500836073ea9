package graft

import graft.functions.{CosineSim, DotProduct, Fnv1a64, Mix64, RollingHash, SimHash64, WinnowStats, WordShingles}
import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: installs the engine's 8 native
  * expressions as SQL functions of a session when it is built —
  * `rolling_hash`, `simhash64`, `dot_product`, `cosine_sim`, `fnv1a64`,
  * `mix64`, `winnow_stats` and `word_shingles`.
  *
  * [[Harness.session]] installs it, so every main and the test session
  * have them. Any other session needs it named at build time:
  *
  * {{{
  *   --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * The Column API (`GraftColumns`) builds the same expressions directly
  * and needs no installation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.natives.foreach { n =>
      e.injectFunction((FunctionIdentifier(n.name),
        new ExpressionInfo(n.cls.getName, n.name), n.checked))
    }
}

object GraftExtensions {

  /** One native SQL function: its name, the expression class behind it,
    * the argument counts it accepts, and its builder. A call with any
    * other count fails analysis with `WRONG_NUM_ARGS`, as a built-in does
    * (Spark's own `QueryCompilationErrors` is private to Spark).
    */
  final case class Native(name: String, cls: Class[_ <: Expression], arities: Seq[Int])(
      build: Seq[Expression] => Expression) {
    def checked(args: Seq[Expression]): Expression =
      if (arities.contains(args.length)) build(args)
      else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`",
        "expectedNum" ->
          (if (arities.size == 1) arities.head.toString else arities.mkString("[", ", ", "]")),
        "actualNum" -> args.length.toString,
        "docroot" -> SPARK_DOC_ROOT))
  }

  /** The one table of native functions. */
  val natives: Seq[Native] = Seq(
    Native("rolling_hash", classOf[RollingHash], Seq(1))(a => RollingHash(a(0))),
    Native("simhash64", classOf[SimHash64], Seq(1))(a => SimHash64(a(0))),
    Native("dot_product", classOf[DotProduct], Seq(2))(a => DotProduct(a(0), a(1))),
    Native("cosine_sim", classOf[CosineSim], Seq(2))(a => CosineSim(a(0), a(1))),
    Native("fnv1a64", classOf[Fnv1a64], Seq(1))(a => Fnv1a64(a(0))),
    Native("mix64", classOf[Mix64], Seq(1))(a => Mix64(a(0))),
    Native("winnow_stats", classOf[WinnowStats], Seq(1, 3)) {
      case Seq(text) => WinnowStats(text, 8, 4)
      case Seq(text, k, w) =>
        WinnowStats(text, intLiteral("winnow_stats", "k", k), intLiteral("winnow_stats", "w", w))
    },
    Native("word_shingles", classOf[WordShingles], Seq(1, 2)) {
      case Seq(text) => WordShingles(text, 3)
      case Seq(text, k) => WordShingles(text, intLiteral("word_shingles", "k", k))
    })

  /** A constant integer argument, or `NON_FOLDABLE_ARGUMENT` naming the
    * function: a column, a null or a non-integer cannot size the window.
    */
  private def intLiteral(fn: String, param: String, e: Expression): Int =
    (if (e.foldable) e.eval() else null) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case _ => throw new AnalysisException("NON_FOLDABLE_ARGUMENT",
        Map("funcName" -> s"`$fn`", "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
    }
}
