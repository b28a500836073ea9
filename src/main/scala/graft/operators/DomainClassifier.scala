package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Multi-class domain classifier — the routing stage of a curation
  * pipeline ("which domain bucket does this document belong to"), built
  * as K one-vs-rest linear heads over the SAME hashed n-gram features as
  * [[QualityClassifier]] and trained JOINTLY: every GD iteration is one
  * map-only pass computing all K margins plus ONE shuffle keyed by
  * feature index carrying K gradient sums per key (65 keys, map-side
  * combined), so the multi-class fit costs the same plan shape as the
  * binary one. Model state = K·(dim+1) driver longs.
  *
  * Teacher (weak supervision, same distillation rationale as the binary
  * gate): the argmax of K token-GROUP masses ([[Groups]] — the corpus's
  * own vocabulary clusters), ties to the lowest class, zero-mass docs to
  * class 0. Exact integer counts, replayable.
  *
  * Decision rule: argmax over heads of the PRIOR-ADJUSTED score
  * `σ̃(z_k)·n − Σy_k·1e6` (exact integer cross-multiply), ties to the
  * lowest head; heads with zero training support are excluded (an unseen
  * class must never be predicted — the degenerate-prior rule of the
  * binary gate, in argmax form). Raw-margin argmax reads the K learned
  * intercepts instead and collapses to the majority class (measured:
  * 30-33% = majority share; prior-adjusted recovers 66-67% at all SFs).
  *
  * Arithmetic is the [[QualityClassifier]] discipline end to end (exact
  * fixed point, hard-sigmoid link, sign-split truncating division), so
  * the ENTIRE K-head training run replays as one generated DuckDB CTE
  * chain with a head dimension ([[oracleCtes]]).
  */
object DomainClassifier {

  val Scale: Long = QualityClassifier.Scale
  val DefaultDim: Int = QualityClassifier.DefaultDim
  val DefaultIters = 12
  val DefaultLr = 4L

  /** Token groups defining the K teacher classes (class k = argmax of
    * group-k token count; ties to the lowest k; no-hit docs to class 0).
    */
  val Groups: Seq[Seq[String]] = Seq(
    Seq("row", "table", "column"),
    Seq("stream", "batch", "window"),
    Seq("customer", "order", "part"),
    Seq("key", "hash", "vector"))

  val K: Int = Groups.size

  /** Teacher class from the token array — the langPred-style first-wins
    * CASE chain (ties to the lowest class; NULL tokens → class 0).
    */
  def teacherCol(toks: Column): Column = {
    val c = Groups.map(g =>
      coalesce(size(filter(toks, x => x.isin(g: _*))), lit(0)).cast("long"))
    when(c(0) >= c(1) && c(0) >= c(2) && c(0) >= c(3), 0)
      .when(c(1) >= c(2) && c(1) >= c(3), 1)
      .when(c(2) >= c(3), 2)
      .otherwise(3)
      .as("y")
  }

  /** (doc_id, source, y, v): the shared hashed-n-gram vectors with the
    * K-class teacher attached.
    */
  def featureFrame(documents: DataFrame, dim: Int = DefaultDim): DataFrame =
    QualityClassifier.featVectors(documents, dim)
      .join(documents.select(col("doc_id"),
        teacherCol(split(col("text"), " "))), Seq("doc_id"))

  // native one-loop dot (DotLongLit) — bit-identical to the
  // aggregate/zip_with fold it replaces (see QualityClassifier.marginCol)
  private def marginCol(w: Array[Long]): Column =
    graft.functions.GraftColumns.dotLongLit(col("v"), w)

  private def yhatExpr(zCol: String): String =
    s"least(greatest(500000 + (CASE WHEN $zCol >= 0 THEN $zCol DIV 4000000" +
      s" ELSE -((-$zCol) DIV 4000000) END), 0), $Scale)"

  /** Joint K-head fit: `iters` exact GD rounds from all-zero weights.
    * Returns K rows of dim+1 fixed-point weights (bias last).
    */
  def fit(documents: DataFrame, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): Array[Array[Long]] = {
    val fp = featureFrame(documents, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitLoop(fp, dim, iters, lr)
    finally fp.unpersist(blocking = false)
  }

  private def fitLoop(fp: DataFrame, dim: Int, iters: Int,
      lr: Long): Array[Array[Long]] = {
    var w = Array.fill(K)(Array.fill(dim + 1)(0L))
    var t = 0
    while (t < iters) {
      var scored = fp
      for (k <- 0 until K) {
        scored = scored
          .withColumn(s"z$k", marginCol(w(k)))
          .withColumn(s"r$k",
            when(col("y") === k, lit(Scale)).otherwise(lit(0L)) -
              expr(yhatExpr(s"z$k")))
      }
      // ONE shuffle for all K heads: 65 keys, K sums + a count per key
      val aggs =
        (0 until K).map(k =>
          sum((col(s"r$k") * col("x")).cast(DecimalType(38, 0))).as(s"g$k")) :+
          count(lit(1)).as("n")
      val g = scored
        .select(Seq(posexplode(col("v")).as(Seq("i", "x"))) ++
          (0 until K).map(k => col(s"r$k")): _*)
        .groupBy(col("i"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val next = w.map(_.clone)
      g.foreach { row =>
        val i = row.getInt(0)
        val n = java.math.BigInteger.valueOf(row.getLong(1 + K))
        val den = n.multiply(java.math.BigInteger.valueOf(Scale))
        for (k <- 0 until K) {
          val gk = row.getDecimal(1 + k).toBigInteger
          val delta = gk.multiply(java.math.BigInteger.valueOf(lr)).divide(den)
          next(k)(i) = w(k)(i) + delta.longValueExact()
        }
      }
      w = next
      t += 1
    }
    w
  }

  // Session fit cache — the QualityClassifier.fits pattern.
  private val fits = new FitMemo[(Int, Int, Long), Array[Array[Long]]](32)

  private def fitCached(documents: DataFrame, dim: Int, iters: Int,
      lr: Long): Array[Array[Long]] =
    fits.getOrFit(documents, (dim, iters, lr))(fit(documents, dim, iters, lr))

  /** Fit-cache-aware (frame, weights): on a MISS the hashing pass runs
    * once — the frame is persisted through both the fit and the returned
    * lazy consumer (one per session in the [[PlanCache]] pin registry,
    * released by the next call); on a HIT scoring is the only pass, and
    * the previous cold call's still-pinned frame serves it via
    * CacheManager plan matching when available.
    */
  private def frameAndFit(documents: DataFrame, dim: Int, iters: Int,
      lr: Long): (DataFrame, Array[Array[Long]]) =
    fits.get(documents, (dim, iters, lr)) match {
      case Some(w0) => (featureFrame(documents, dim), w0)
      case None =>
        val pinned = PlanCache.replacePins(documents.sparkSession, this)(Seq(
          featureFrame(documents, dim)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))).head
        val w0 = fitLoop(pinned, dim, iters, lr)
        fits.put(documents, (dim, iters, lr), w0)
        (pinned, w0)
    }

  /** The trained model as a frame: (head, b, w) — K·(dim+1) rows. */
  def trainedWeights(documents: DataFrame, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): DataFrame = {
    val w = fitCached(documents, dim, iters, lr)
    val spark = documents.sparkSession
    import spark.implicits._
    (for (k <- 0 until K; i <- 0 to dim) yield (k, i, w(k)(i)))
      .toDF("head", "b", "w").orderBy(col("head"), col("b"))
  }

  /** Map-only inference + K×K confusion rollup: per (teacher class,
    * predicted class), the doc count. The argmax runs ROW-LOCAL over an
    * array of per-head structs (prior-adjusted score, −head; struct
    * ordering = max score, ties to the lowest head) with zero-support
    * heads filtered out — the priors ride in via one broadcast 1-row
    * frame, so inference adds no shuffle before the final rollup.
    */
  def confusion(documents: DataFrame, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): DataFrame =
    predictions(documents, dim, iters, lr)
      .groupBy(col("y"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("y"), col("pred"))

  /** Per-doc predictions `(doc_id, source, y, pred)` — the composable
    * routing surface (a budget loop groups on `pred`; [[confusion]] is
    * its rollup). Map-only after one broadcast prior row.
    */
  def predictions(documents: DataFrame, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): DataFrame = {
    val (fp, w) = frameAndFit(documents, dim, iters, lr)
    val priorAggs = Seq(count(lit(1)).as("n_all")) ++
      (0 until K).map(k =>
        sum(when(col("y") === k, 1L).otherwise(0L)).as(s"sy$k"))
    val prior = fp.agg(priorAggs.head, priorAggs.tail: _*)
    var scored = fp.crossJoin(broadcast(prior))
    for (k <- 0 until K)
      scored = scored.withColumn(s"z$k", marginCol(w(k)))
    val cand = array((0 until K).map(k => struct(
      (expr(yhatExpr(s"z$k")) * col("n_all") - col(s"sy$k") * Scale).as("adj"),
      lit(-k).as("nk"),
      col(s"sy$k").as("sy"))): _*)
    scored
      .withColumn("best",
        array_max(filter(cand, s => s.getField("sy") > 0L)))
      .withColumn("pred", -col("best.nk"))
      .select(col("doc_id"), col("source"), col("y"), col("pred"))
  }

  /** Per-head tie-corrected one-vs-rest AUC — the multi-class twin of
    * [[ClassifierEval.classifierAuc]]: for every head k, how well does
    * head k's σ̃ rank "y = k" documents above the rest? One exploded
    * (doc × head) pass folds through [[ClassifierEval.aucFromScores]]
    * with the head as the group key, so all K audits ride a single
    * K·(10⁶+1)-bounded histogram shuffle. Zero-support heads emit the
    * degenerate-contract 0, mirroring their exclusion from the argmax.
    */
  def headAuc(documents: DataFrame, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): DataFrame = {
    val (fp, w) = frameAndFit(documents, dim, iters, lr)
    var scored = fp
    for (k <- 0 until K)
      scored = scored.withColumn(s"z$k", marginCol(w(k)))
    val rows = array((0 until K).map(k => struct(
      lit(k).as("h"),
      expr(yhatExpr(s"z$k")).cast("long").as("v"),
      when(col("y") === k, 1L).otherwise(0L).as("yy"))): _*)
    val perHead = scored.select(explode(rows).as("r"))
      .select(col("r.h").as("h"), col("r.v").as("v"), col("r.yy").as("y"))
    ClassifierEval.aucFromScores(perHead, Seq(col("h")))
      .withColumn("h", col("h").cast("int"))
      .orderBy(col("h"))
  }

  /** Full oracle for [[headAuc]]: the K-head training replay's dczf frame
    * already carries (doc, head, σ̃) — the doubled-rank fold partitions
    * by head on top of it.
    */
  def headAucOracleSql(dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): String = ClassifierEval.aucOracleSql(
    s"WITH ${predCtes(dim, iters, lr)},\n",
    """  SELECT h, CAST(yhat AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN y = h THEN 1 ELSE 0 END) AS BIGINT) AS p
  FROM dczf GROUP BY 1, 2""",
    group = Some("h"))

  // ---- DuckDB oracle: the K-head training run as one CTE chain --------

  /** Feature CTEs shared with the binary gate, the group-mass teacher,
    * then per-round CTEs carrying a head dimension `h` (weights as one
    * (h, b, w) grid; each round = margins per (doc, head) → residuals →
    * per-(head, index) gradient sums → weight join on (h, b)).
    */
  def oracleCtes(dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += QualityClassifier.featureCtes(dim)
    val cnts = Groups.zipWithIndex.map { case (g, k) =>
      val lst = g.map(s => s"'$s'").mkString(", ")
      s"len(list_filter(t, x -> x IN ($lst))) AS c$k"
    }.mkString(",\n      |    ")
    parts += s"""dcy0 AS (
      |  SELECT doc_id,
      |    $cnts
      |  FROM qtok)""".stripMargin
    parts += s"""dcy AS (
      |  SELECT doc_id,
      |    CASE WHEN c0 >= c1 AND c0 >= c2 AND c0 >= c3 THEN 0
      |         WHEN c1 >= c2 AND c1 >= c3 THEN 1
      |         WHEN c2 >= c3 THEN 2
      |         ELSE 3 END AS y
      |  FROM dcy0)""".stripMargin
    parts += s"""dce AS MATERIALIZED (
      |  SELECT d.doc_id, CAST(coalesce(dcy.y, 0) AS BIGINT) AS y, qv.v
      |  FROM documents d JOIN qv USING (doc_id)
      |  LEFT JOIN dcy USING (doc_id))""".stripMargin
    parts += s"""dcw0 AS MATERIALIZED (
      |  SELECT CAST(h.h AS INT) AS h, CAST(b.b AS INT) AS b,
      |    CAST(0 AS BIGINT) AS w
      |  FROM (SELECT unnest(range(0, $K)) AS h) h,
      |       (SELECT unnest(range(0, ${dim + 1})) AS b) b)""".stripMargin
    for (t <- 0 until iters) {
      parts += s"""dcl$t AS MATERIALIZED (
        |  SELECT h, list(w ORDER BY b) AS wv FROM dcw$t GROUP BY h)""".stripMargin
      parts += s"""dcz$t AS (
        |  SELECT e.doc_id, e.y, e.v, wl.h,
        |    list_aggregate(list_transform(range(1, ${dim + 2}),
        |      i -> e.v[i] * wl.wv[i]), 'sum') AS z
        |  FROM dce e, dcl$t wl)""".stripMargin
      parts += s"""dcr$t AS (
        |  SELECT doc_id, v, h,
        |    (CASE WHEN y = h THEN $Scale ELSE 0 END) - least(greatest(
        |      500000 + (CASE WHEN z >= 0 THEN z // 4000000
        |                     ELSE -((-z) // 4000000) END), 0), $Scale) AS r
        |  FROM dcz$t)""".stripMargin
      parts += s"""dcg$t AS (
        |  SELECT h, CAST(u.b AS INT) AS b,
        |    CAST(sum(CAST(u.x AS HUGEINT) * CAST(r AS HUGEINT)) AS HUGEINT) AS g,
        |    CAST(count(*) AS HUGEINT) AS n
        |  FROM (
        |    SELECT h, r, unnest(list_transform(range(1, ${dim + 2}),
        |      i -> {'b': i - 1, 'x': v[i]})) AS u
        |    FROM dcr$t)
        |  GROUP BY 1, 2)""".stripMargin
      parts += s"""dcw${t + 1} AS MATERIALIZED (
        |  SELECT w.h, w.b, CAST(w.w + (
        |    CASE WHEN g.g >= 0 THEN ($lr * g.g) // (g.n * $Scale)
        |         ELSE -(($lr * (-g.g)) // (g.n * $Scale)) END) AS BIGINT) AS w
        |  FROM dcw$t w JOIN dcg$t g USING (h, b))""".stripMargin
    }
    parts.mkString(",\n")
  }

  /** Full oracle for [[trainedWeights]]. */
  def trainOracleSql(dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): String =
    s"""WITH ${oracleCtes(dim, iters, lr)}
      |SELECT CAST(h AS INT) AS head, CAST(b AS INT) AS b, w
      |FROM dcw$iters ORDER BY head, b""".stripMargin

  /** [[oracleCtes]] extended through inference: margins per head, priors,
    * prior-adjusted argmax — ends at `dcpred (doc_id, y, pred)`. Reused by
    * the confusion rollup and the domain-routed compositions.
    */
  def predCtes(dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): String =
    s"""${oracleCtes(dim, iters, lr)},
      |dczf AS (
      |  SELECT doc_id, y, h,
      |    least(greatest(500000 + (
      |      CASE WHEN z >= 0 THEN z // 4000000 ELSE -((-z) // 4000000) END),
      |      0), $Scale) AS yhat
      |  FROM (
      |    SELECT e.doc_id, e.y, wl.h,
      |      list_aggregate(list_transform(range(1, ${dim + 2}),
      |        i -> e.v[i] * wl.wv[i]), 'sum') AS z
      |    FROM dce e,
      |      (SELECT h, list(w ORDER BY b) AS wv FROM dcw$iters GROUP BY h) wl)),
      |dcprior AS (
      |  SELECT hh.h,
      |    CAST(count(*) FILTER (WHERE e.y = hh.h) AS BIGINT) AS sy,
      |    CAST(count(*) AS BIGINT) AS n_all
      |  FROM dce e, (SELECT unnest(range(0, $K)) AS h) hh
      |  GROUP BY hh.h),
      |dcadj AS (
      |  SELECT z.doc_id, z.y, z.h,
      |    z.yhat * p.n_all - p.sy * $Scale AS adj
      |  FROM dczf z JOIN dcprior p USING (h)
      |  WHERE p.sy > 0),
      |dcpred AS (
      |  SELECT doc_id, y, h AS pred FROM (
      |    SELECT doc_id, y, h,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY adj DESC, h) AS rn
      |    FROM dcadj) WHERE rn = 1)""".stripMargin

  /** Full oracle for [[confusion]]. */
  def confusionOracleSql(dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): String =
    s"""WITH ${predCtes(dim, iters, lr)}
      |SELECT CAST(y AS INT) AS y, CAST(pred AS INT) AS pred,
      |  CAST(count(*) AS BIGINT) AS n_docs
      |FROM dcpred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
