package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Trained quality classifier — the fastText-style linear filter every
  * large-scale curation pipeline runs (Joulin et al. 2016, "Bag of Tricks
  * for Efficient Text Classification"; the CCNet/GPT-3/LLaMA "wiki vs
  * common-crawl" quality gate): hashed word-unigram+bigram features into a
  * small bucket space, a linear model trained by batch gradient descent,
  * scored map-only at inference. Complements the CLOSED-FORM quality
  * signals already here ([[graft.functions.TextAnalysis.docStats]],
  * `bigramNll`, `dsirWeights`) with the LEARNED one.
  *
  * Weak supervision follows the reference recipe — train against a cheap
  * deterministic teacher, not per-doc human labels. On this corpus the
  * teacher is a closed-form stopword-mass gate (y = 1 iff
  * `count(tok ∈ {the, a}) · 1000 ≥ 61 · n_tokens`, an exact integer
  * cross-multiply splitting the corpus ~50/50): the classifier DISTILLS
  * the heuristic gate into the hashed linear model, and the confusion
  * audit measures exactly what the 64-bucket hashing loses (70-73%
  * agreement vs 50-54% base rates at all three harness SFs). On a real
  * corpus the
  * teacher column is wiki-vs-crawl membership — the label rule is one
  * swappable Column. (A source-identity label was tested and rejected:
  * the synthetic sources share one template vocabulary, so source parity
  * is unlearnable from frequency features — float-precision logistic
  * regression plateaus at 51%.)
  *
  * All arithmetic is EXACT fixed-point (the [[KMeans]] discipline), so
  * the ENTIRE training run — features, margins, gradients, updates — is
  * bit-exactly reproducible by an independent engine ([[oracleCtes]]
  * emits the DuckDB CTE chain from the same hyperparameters):
  *
  *  - features: per-doc n-gram bucket counts normalized to scale-6 fixed
  *    point by truncating integer division `(cnt * 1e6) DIV total`, plus
  *    a constant bias feature at index `dim` (value 1e6) — so Σf ≤ 2e6;
  *  - margin: `z = Σ v_i · w_i` (scale 1e12, |z| ≤ 2e6·|w|max — bounded
  *    long arithmetic, see the update bound below);
  *  - link: HARD sigmoid `σ̃(z) = clamp(1/2 + z/4, 0, 1)` (Courbariaux
  *    et al. 2016's piecewise-linear link), exactly `clamp(5e5 +
  *    sdiv(z, 4e6), 0, 1e6)` in scale-6 fixed point where `sdiv` is
  *    sign-split truncating division — no transcendental anywhere, so
  *    engines cannot diverge on libm;
  *  - gradient: `g_i = Σ_docs (y·1e6 − σ̃(z)) · v_i` summed as
  *    DECIMAL(38,0) (|r·v| ≤ 1e12 per row; the sum never overflows);
  *  - update: `w_i ← w_i + sdiv(lr · g_i, n · 1e6)` — driver-side
  *    BigInteger arithmetic on the collected dim+1 model rows
  *    (BigInteger.divide truncates toward zero = the sign-split
  *    spelling). |Δw| ≤ 2e6·lr per iteration, so after T iterations
  *    |w| ≤ 2e6·lr·T and |z| ≤ 4e12·lr·T — far inside int64 for any
  *    sane (lr, T).
  *
  * Scale shape (the 100-TB lens): training is `iters` rounds of ONE
  * map-only scoring pass over the persisted feature frame plus ONE
  * shuffle keyed by feature index — dim+1 distinct keys, map-side
  * combined to ≤ partitions·(dim+1) rows regardless of corpus size; the
  * driver holds dim+1 model longs (the KMeans centroid envelope).
  * Inference is a pure map (weights ride into the codegen'd expression
  * as literals, the [[KMeans.assignTo]] trick) — no join, no shuffle.
  */
object QualityClassifier {

  /** Fixed-point scale for features, labels and weights. */
  val Scale = 1000000L

  val DefaultDim = 64

  /** 12 GD rounds at lr = 4: the measured convergence plateau (accuracy
    * flat from iteration ~8 through 32 at lr ≤ 8; lr ≥ 16 diverges into
    * hard-sigmoid saturation). Small enough that the unrolled oracle CTE
    * chain stays ~70 CTEs.
    */
  val DefaultIters = 12
  val DefaultLr = 4L

  /** Teacher-gate tokens and threshold: y = 1 iff
    * `stop_count · ThreshDen ≥ ThreshNum · n_tokens` (61/1000 ≈ the
    * corpus median stopword-mass ratio, measured at sf0.01).
    */
  val StopTokens: Seq[String] = Seq("the", "a")
  val ThreshNum = 61L
  val ThreshDen = 1000L

  /** Weak label y ∈ {0,1} from the token array: the exact integer
    * cross-multiplied stopword-mass gate (NULL token array → 0).
    */
  def labelCol(toks: Column): Column =
    coalesce(
      (size(filter(toks, x => x.isin(StopTokens: _*))).cast("long") * ThreshDen
        >= lit(ThreshNum) * size(toks).cast("long")).cast("int"),
      lit(0)).as("y")

  /** Per-doc feature frame `(doc_id, source, y, v)` where `v` is the
    * dim+1-long fixed-point vector: hashed unigram+bigram frequencies at
    * indices 0..dim-1, the constant bias (1e6) at index dim. NULL-text
    * docs keep the zero n-gram vector (bias only) — the
    * [[KMeans.hashedTextFp]] left-join convention.
    */
  def featureFrame(documents: DataFrame, dim: Int = DefaultDim): DataFrame =
    featVectors(documents, dim)
      .join(documents.select(col("doc_id"),
        labelCol(split(col("text"), " "))), Seq("doc_id"))

  /** The label-free feature core `(doc_id, source, v)` — shared with the
    * multi-class [[DomainClassifier]], which attaches its own teacher.
    */
  private[operators] def featVectors(
      documents: DataFrame, dim: Int): DataFrame = {
    require(Integer.bitCount(dim) == 1, s"dim must be a power of two, got $dim")
    val t = documents.select(col("doc_id"), split(col("text"), " ").as("t"))
    // unigrams ++ bigrams ("a b"); sequence(1, size-1) would DESCEND on a
    // 1-token doc (Spark auto-steps -1), hence the size >= 2 guard. The
    // per-doc gram total is 2·|t|−1 (|t| unigrams + |t|−1 bigrams) — a
    // doc-row scalar carried THROUGH the explode, so normalization needs
    // neither a count window nor a join-back (one shuffle saved per pass)
    val grams = t.select(col("doc_id"),
      when(size(col("t")) >= 2, size(col("t")).cast("long") * 2 - 1L)
        .otherwise(size(col("t")).cast("long")).as("tot"),
      explode(concat(col("t"),
        when(size(col("t")) >= 2, expr(
          "transform(sequence(1, size(t) - 1)," +
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .otherwise(array().cast("array<string>")))).as("g"))
    val bc = grams
      .select(col("doc_id"), col("tot"),
        pmod(graft.functions.GraftColumns.fnv1a64(col("g")), lit(dim.toLong))
          .cast("int").as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"), first(col("tot")).as("tot"))
    // c, tot > 0 so the truncating DIV can never hit floor/trunc skew
    val f = bc.withColumn("f", expr(s"(c * $Scale) DIV tot"))
    val vecs = f.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("f")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("v0"))
    documents.select(col("doc_id"), col("source"))
      .join(vecs, Seq("doc_id"), "left")
      .withColumn("v", concat(
        coalesce(col("v0"), typedLit(Seq.fill(dim)(0L))), array(lit(Scale))))
      .drop("v0")
  }

  /** Sign-split truncating division SQL fragment (both engines truncate
    * identically on non-negative operands — the KMeans quotient rule).
    */
  private def sdiv(a: String, b: String): String =
    s"CASE WHEN $a >= 0 THEN ($a) DIV ($b) ELSE -((-($a)) DIV ($b)) END"

  /** Margin of one literal weight vector — a pure map (the weights ride
    * into the codegen'd expression as one reference object; no join, no
    * shuffle). Native one-loop dot ([[graft.functions.DotLongLit]]),
    * bit-identical to the aggregate/zip_with HOF fold it replaces — that
    * form re-entered two interpreted lambdas per element per GD
    * iteration and dominated the classifier queries.
    */
  private def marginCol(w: Array[Long]): Column =
    graft.functions.GraftColumns.dotLongLit(col("v"), w)

  /** σ̃(z) and residual, both scale-6: yhat = clamp(5e5 + z/4e6, 0, 1e6),
    * r = y·1e6 − yhat. Emitted from ONE spelling for fit and audits.
    */
  private def scoredFrame(fp: DataFrame, w: Array[Long]): DataFrame =
    fp.withColumn("z", marginCol(w))
      .withColumn("yhat", expr(
        s"least(greatest(500000 + ${sdiv("z", "4000000")}, 0), $Scale)"))
      .withColumn("r", col("y") * Scale - col("yhat"))

  /** One batch-GD fit: `iters` exact rounds from w = 0. Returns the dim+1
    * fixed-point weights (bias last). Persists the feature frame for the
    * fit's (eager) lifetime — the KMeans/MLlib discipline.
    */
  def fit(documents: DataFrame, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): Array[Long] = {
    val fp = featureFrame(documents, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fitLoop(fp, dim, iters, lr)
    finally fp.unpersist(blocking = false)
  }

  /** The GD rounds over an ALREADY-persisted feature frame (persistence
    * is the caller's lifecycle — [[fit]] pins for the fit only,
    * [[scoreDocs]] keeps the frame pinned through scoring so the n-gram
    * hashing pass runs ONCE on a cold corpus).
    */
  private def fitLoop(
      fp: DataFrame, dim: Int, iters: Int, lr: Long): Array[Long] = {
    {
      var w = Array.fill(dim + 1)(0L)
      var t = 0
      while (t < iters) {
        // one dim+1-key shuffle: map-side combined partial sums, ≤
        // partitions·(dim+1) rows into the exchange regardless of corpus
        val g = scoredFrame(fp, w)
          .select(col("r"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("i"))
          .agg(sum((col("r") * col("x")).cast(DecimalType(38, 0))).as("g"),
            count(lit(1)).as("n"))
          .collect()
        val next = w.clone()
        g.foreach { row =>
          val i = row.getInt(0)
          val gi = row.getDecimal(1).toBigInteger
          val n = java.math.BigInteger.valueOf(row.getLong(2))
          val den = n.multiply(java.math.BigInteger.valueOf(Scale))
          // BigInteger.divide truncates toward zero = sign-split trunc
          val delta = gi.multiply(java.math.BigInteger.valueOf(lr)).divide(den)
          next(i) = w(i) + delta.longValueExact()
        }
        w = next
        t += 1
      }
      w
    }
  }

  // Session fit cache: the train/score queries over the same corpus share
  // one fit per (input, dim, iters, lr) — the KMeans.fits pattern.
  private val fits = new FitMemo[(Int, Int, Long), Array[Long]](32)

  private def fitCached(
      documents: DataFrame, dim: Int, iters: Int, lr: Long): Array[Long] =
    fits.getOrFit(documents, (dim, iters, lr))(fit(documents, dim, iters, lr))

  /** The trained model as a frame: one row per weight (bucket index,
    * fixed-point weight; bias at index `dim`).
    */
  def trainedWeights(documents: DataFrame, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): DataFrame = {
    val w = fitCached(documents, dim, iters, lr)
    val spark = documents.sparkSession
    import spark.implicits._
    w.zipWithIndex.map { case (wi, i) => (i, wi) }.toSeq
      .toDF("b", "w").orderBy(col("b"))
  }

  /** Decision rule: predict positive iff σ̃(z) ≥ the CLASS PRIOR ȳ —
    * exactly `yhat · n ≥ Σy · 1e6` (integer cross-multiply, both sides ≤
    * 1e6·n). Thresholding at 1/2 instead would read the learned intercept:
    * squared-loss GD centers σ̃ on the base rate, so off a 50/50 corpus
    * every margin lands on the majority side of 1/2 while the per-bucket
    * signal is learning underneath (measured: all-positive at sf0.1's
    * 51.4% prior; the prior threshold recovers 71%).
    *
    * Degenerate priors pin to the teacher, not the inequality edge: with
    * zero positives the cross-multiply reads `yhat·n ≥ 0` (always true —
    * the OPPOSITE of the all-negative corpus), and with zero negatives it
    * reads `yhat = 1e6` exactly (almost never true). Both one-class
    * corpora therefore short-circuit to the constant class.
    */
  private def predCol: Column =
    when(col("sum_y") === 0L, lit(0))
      .when(col("sum_y") === col("n_all"), lit(1))
      .otherwise((col("yhat") * col("n_all") >= col("sum_y") * Scale)
        .cast("int"))

  /** Map-only inference + per-source confusion rollup: for each source,
    * doc count, weak-label positives, predicted positives (σ̃ ≥ prior)
    * and agreement count. The "did the filter learn the gate" audit a
    * curation run reads before trusting the classifier.
    */
  def scoreConfusion(documents: DataFrame, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): DataFrame =
    scoreDocs(documents, dim, iters, lr)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y").cast("long")).as("n_label_hi"),
        sum(col("pred").cast("long")).as("n_pred_hi"),
        count(when(col("pred") === col("y"), lit(1))).as("n_agree"))
      .orderBy(col("source"))

  /** Per-doc scores of the trained model — the composable inference
    * surface (a curation funnel filters on `pred` or thresholds the
    * margin). Pure map over the feature frame plus one broadcast 1-row
    * prior frame.
    */
  def scoreDocs(documents: DataFrame, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): DataFrame = {
    // fit-cache-aware frame sharing: on a MISS the n-gram hashing pass
    // (the dominant cost) runs once — the frame is persisted, the fit
    // loop trains over it, and the returned lazy scoring plan reads the
    // same pinned frame (one per session in the [[PlanCache]] pin
    // registry, released by the next call). On a HIT, scoring is the only
    // pass, so pinning would be pure overhead.
    val (fp, w) = fits.get(documents, (dim, iters, lr)) match {
      case Some(w0) => (featureFrame(documents, dim), w0)
      case None =>
        val pinned = PlanCache.replacePins(documents.sparkSession, this)(Seq(
          featureFrame(documents, dim)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))).head
        val w0 = fitLoop(pinned, dim, iters, lr)
        fits.put(documents, (dim, iters, lr), w0)
        (pinned, w0)
    }
    val prior = fp.agg(count(lit(1)).as("n_all"),
      sum(col("y").cast("long")).as("sum_y"))
    scoredFrame(fp, w)
      .crossJoin(broadcast(prior))
      .withColumn("pred", predCol)
      .select(col("doc_id"), col("source"), col("y"), col("z"),
        col("yhat"), col("pred"))
  }

  /** Reliability table of the trained gate: documents ranked by σ̃ (ties
    * broken by doc_id — a total order, so the binning is deterministic),
    * cut into `bins` equal-population score bins `(rank−1)·bins DIV n`,
    * and per bin the exact counts a calibration read-out needs: docs,
    * teacher positives, predicted positives, agreement, and the σ̃ range.
    * A well-calibrated gate shows n_label_hi/n_docs rising with the bin —
    * the audit a curation run reads BEFORE trusting the classifier's
    * threshold, beside [[scoreConfusion]]'s per-source view.
    *
    * All integer: σ̃ is already scale-6 fixed point, the rank comes from
    * [[DistributedRank]] (range partition + offsets — no single-partition
    * window over the corpus), and the bin is one integer multiply-divide.
    * Oracle: [[calibrationOracleSql]] chains the FULL training replay into
    * the same rank/bin arithmetic.
    */
  def calibration(documents: DataFrame, bins: Int = 10,
      dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): DataFrame = {
    require(bins > 0, s"bins: $bins")
    val scored = scoreDocs(documents, dim, iters, lr)
      .select(col("doc_id"), col("y"), col("yhat"), col("pred"))
    val (ranked, n) = DistributedRank.withGlobalRankAndCount(
      scored, Seq(col("yhat"), col("doc_id")), "rk")
    ranked
      .withColumn("bin",
        expr(s"CAST((rk - 1) * $bins DIV ${math.max(n, 1L)}L AS INT)"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("y").cast("long")).as("n_label_hi"),
        sum(col("pred").cast("long")).as("n_pred_hi"),
        count(when(col("pred") === col("y"), lit(1))).as("n_agree"),
        min(col("yhat")).cast("long").as("min_yhat"),
        max(col("yhat")).cast("long").as("max_yhat"))
      .orderBy(col("bin"))
  }

  /** Row-local scoring kernel: the margin of one document's text under
    * literal weights — the inference twin of [[featureFrame]]∘margin,
    * spelled once in plain Scala so a STREAMING gate needs no per-doc
    * aggregation plan (the batch spelling's groupBy/join featureization
    * is not stream-composable; this is). Parity with the batch margins
    * is spec-pinned row-for-row.
    */
  private[graft] def marginOf(text: String, w: Array[Long], dim: Int): Long = {
    var z = Scale * w(dim) // bias feature
    if (text == null) return z
    val t = text.split(" ", -1)
    val cnt = new java.util.HashMap[Int, Long]()
    var tot = 0L
    def add(g: String): Unit = {
      val b = {
        val h = graft.functions.SimHash64.fnv1a(
          g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (((h % dim) + dim) % dim).toInt
      }
      cnt.merge(b, 1L, _ + _)
      tot += 1
    }
    var i = 0
    while (i < t.length) {
      add(t(i))
      if (i + 1 < t.length) add(t(i) + " " + t(i + 1))
      i += 1
    }
    val it = cnt.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      z += ((e.getValue * Scale) / tot) * w(e.getKey)
    }
    z
  }

  /** Map-only inference over ANY (doc_id, …, text, source) frame — batch
    * or STREAMING (stateless mapPartitions, so it composes with
    * watermarks/sinks like every streaming gate here): each doc gets its
    * margin `z` under the literal trained weights and a predicate at the
    * caller's margin threshold (derive it from the training corpus's
    * class prior — the [[scoreDocs]] rule — or gate at 0 for σ̃ ≥ 1/2).
    * The classifier-gated ingest path: train offline, gate the stream.
    */
  def scoreWith(docs: DataFrame, w: Array[Long],
      dim: Int = DefaultDim, zThreshold: Long = 0L): DataFrame = {
    require(w.length == dim + 1,
      s"weights must be dim+1 = ${dim + 1} long, got ${w.length}")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("z",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pred",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id"), col("source"), col("text"))
      .mapPartitions { rows =>
        rows.map { r =>
          val z = marginOf(if (r.isNullAt(2)) null else r.getString(2), w, dim)
          org.apache.spark.sql.Row(r.getLong(0),
            if (r.isNullAt(1)) null else r.getString(1),
            z, if (z >= zThreshold) 1 else 0)
        }
      }(enc)
  }

  // ---- DuckDB oracle: the whole training run as one CTE chain ---------

  /** CTEs `qe` (feature frame: doc_id, y, v — v length dim+1 with the
    * bias last), `qcw0..qcw$iters` (weights per round, one row per index)
    * and `qcl$t` (each round's weights as a list for the margin). Emitted
    * from one generator so engine and oracle can only diverge by
    * semantics, never by a typo (the KMeans.oracleCtes discipline).
    */
  /** The label-free feature CTEs (`qtok` … `qv`: per-doc dim+1 vector) —
    * shared with [[DomainClassifier]]'s oracle, which attaches its own
    * teacher CTE over the same `qtok`/`qv`.
    */
  private[operators] def featureCtes(dim: Int): String = {
    val fnvG = graft.SketchOracles.fnvExpr("g")
    val guard = graft.SketchOracles.asciiGuard
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += s"""qtok AS (
      |  SELECT doc_id, string_split(text, ' ') AS t
      |  FROM documents WHERE text IS NOT NULL AND $guard = 0)""".stripMargin
    parts += s"""qg AS (
      |  SELECT doc_id, unnest(list_concat(t,
      |    CASE WHEN len(t) >= 2
      |      THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
      |      ELSE [] END)) AS g
      |  FROM qtok)""".stripMargin
    parts += s"""qbc AS (
      |  SELECT doc_id, CAST(($fnvG) % $dim AS INT) AS b,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM qg GROUP BY 1, 2)""".stripMargin
    parts += s"""qf AS (
      |  SELECT doc_id, b,
      |    (c * $Scale) // sum(c) OVER (PARTITION BY doc_id) AS f
      |  FROM qbc)""".stripMargin
    parts += s"""qgrid AS (
      |  SELECT d.doc_id, g.b, coalesce(qf.f, 0) AS f
      |  FROM documents d
      |  CROSS JOIN (SELECT CAST(unnest(range(0, $dim)) AS INT) AS b) g
      |  LEFT JOIN qf ON qf.doc_id = d.doc_id AND qf.b = g.b
      |  UNION ALL
      |  SELECT doc_id, $dim AS b, $Scale AS f FROM documents)""".stripMargin
    parts += s"""qv AS (
      |  SELECT doc_id, list(f ORDER BY b) AS v FROM qgrid GROUP BY 1)""".stripMargin
    parts.mkString(",\n")
  }

  def oracleCtes(dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): String = {
    val stopList = StopTokens.map(s => s"'$s'").mkString(", ")
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += featureCtes(dim)
    parts += s"""qy AS (
      |  SELECT doc_id,
      |    CASE WHEN len(list_filter(t, x -> x IN ($stopList))) * $ThreshDen
      |              >= $ThreshNum * len(t)
      |         THEN 1 ELSE 0 END AS y
      |  FROM qtok)""".stripMargin
    // MATERIALIZED is load-bearing, not a hint: qcw{t+1} references
    // qcw{t} twice (the weight join + the margin list) and qz{t}
    // references qe every round — inlined CTEs would re-expand the whole
    // subtree EXPONENTIALLY in the iteration count (2^iters corpus scans
    // exhausted the file-handle limit at iters = 12 before this).
    parts += s"""qe AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    CAST(coalesce(qy.y, 0) AS BIGINT) AS y, qv.v
      |  FROM documents d JOIN qv USING (doc_id)
      |  LEFT JOIN qy USING (doc_id))""".stripMargin
    parts += s"""qcw0 AS MATERIALIZED (
      |  SELECT CAST(unnest(range(0, ${dim + 1})) AS INT) AS b,
      |    CAST(0 AS BIGINT) AS w)""".stripMargin
    for (t <- 0 until iters) {
      parts += s"qcl$t AS (SELECT list(w ORDER BY b) AS wv FROM qcw$t)"
      parts += s"""qz$t AS (
        |  SELECT e.doc_id, e.y, e.v,
        |    list_aggregate(list_transform(range(1, ${dim + 2}),
        |      i -> e.v[i] * wl.wv[i]), 'sum') AS z
        |  FROM qe e, qcl$t wl)""".stripMargin
      parts += s"""qr$t AS (
        |  SELECT doc_id, v,
        |    y * $Scale - least(greatest(
        |      500000 + (CASE WHEN z >= 0 THEN z // 4000000
        |                     ELSE -((-z) // 4000000) END), 0), $Scale) AS r
        |  FROM qz$t)""".stripMargin
      parts += s"""qg$t AS (
        |  SELECT CAST(u.b AS INT) AS b,
        |    CAST(sum(CAST(u.x AS HUGEINT) * CAST(r AS HUGEINT)) AS HUGEINT) AS g,
        |    CAST(count(*) AS HUGEINT) AS n
        |  FROM (
        |    SELECT r, unnest(list_transform(range(1, ${dim + 2}),
        |      i -> {'b': i - 1, 'x': v[i]})) AS u
        |    FROM qr$t)
        |  GROUP BY 1)""".stripMargin
      parts += s"""qcw${t + 1} AS MATERIALIZED (
        |  SELECT w.b, CAST(w.w + (
        |    CASE WHEN g.g >= 0 THEN ($lr * g.g) // (g.n * $Scale)
        |         ELSE -(($lr * (-g.g)) // (g.n * $Scale)) END) AS BIGINT) AS w
        |  FROM qcw$t w JOIN qg$t g USING (b))""".stripMargin
    }
    parts.mkString(",\n")
  }

  /** Full oracle for [[trainedWeights]]. */
  def trainOracleSql(dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): String =
    s"""WITH ${oracleCtes(dim, iters, lr)}
      |SELECT CAST(b AS INT) AS b, w FROM qcw$iters ORDER BY b""".stripMargin

  /** [[oracleCtes]] extended through inference: adds `qzf` (margins under
    * the final weights), `qprior` and `qpred` (the prior-threshold
    * decision) — the reusable prefix for every oracle that consumes the
    * trained gate (the confusion rollup here; the gated-mixture
    * composition in SparkEntry).
    */
  def predCtes(dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): String =
    s"""${oracleCtes(dim, iters, lr)},
      |qzf AS (
      |  SELECT e.doc_id, e.y,
      |    least(greatest(500000 + (
      |      CASE WHEN z >= 0 THEN z // 4000000 ELSE -((-z) // 4000000) END),
      |      0), $Scale) AS yhat
      |  FROM (
      |    SELECT e.doc_id, e.y,
      |      list_aggregate(list_transform(range(1, ${dim + 2}),
      |        i -> e.v[i] * wl.wv[i]), 'sum') AS z
      |    FROM qe e, (SELECT list(w ORDER BY b) AS wv FROM qcw$iters) wl) e),
      |qprior AS (SELECT count(*) AS n_all, sum(y) AS sum_y FROM qe),
      |qpred AS (
      |  SELECT doc_id, y,
      |    CASE WHEN sum_y = 0 THEN 0
      |         WHEN sum_y = n_all THEN 1
      |         WHEN yhat * n_all >= sum_y * $Scale THEN 1 ELSE 0 END AS pred
      |  FROM qzf, qprior)""".stripMargin

  /** Full oracle for [[scoreConfusion]]. */
  def confusionOracleSql(dim: Int = DefaultDim, iters: Int = DefaultIters,
      lr: Long = DefaultLr): String =
    s"""WITH ${predCtes(dim, iters, lr)}
      |SELECT d.source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(q.y) AS BIGINT) AS n_label_hi,
      |  CAST(sum(q.pred) AS BIGINT) AS n_pred_hi,
      |  CAST(sum(CASE WHEN q.pred = q.y THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_agree
      |FROM documents d JOIN qpred q USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Full oracle for [[calibration]]: the training replay ([[predCtes]])
    * joined back to the σ̃ frame, ranked by (yhat, doc_id), binned by the
    * same integer multiply-divide, aggregated per bin.
    */
  def calibrationOracleSql(bins: Int = 10, dim: Int = DefaultDim,
      iters: Int = DefaultIters, lr: Long = DefaultLr): String =
    s"""WITH ${predCtes(dim, iters, lr)},
      |qr AS (
      |  SELECT z.doc_id, z.yhat, z.y, p.pred,
      |    row_number() OVER (ORDER BY z.yhat, z.doc_id) AS rk,
      |    (SELECT count(*) FROM qzf) AS n
      |  FROM qzf z JOIN qpred p USING (doc_id))
      |SELECT CAST((rk - 1) * $bins // greatest(n, 1) AS INT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(qr.y) AS BIGINT) AS n_label_hi,
      |  CAST(sum(qr.pred) AS BIGINT) AS n_pred_hi,
      |  CAST(sum(CASE WHEN qr.pred = qr.y THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_agree,
      |  CAST(min(qr.yhat) AS BIGINT) AS min_yhat,
      |  CAST(max(qr.yhat) AS BIGINT) AS max_yhat
      |FROM qr GROUP BY 1 ORDER BY 1""".stripMargin
}
