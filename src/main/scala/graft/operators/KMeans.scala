package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Distributed Lloyd's k-means over the embedding corpus — the
  * cluster-the-WHOLE-corpus path (domain discovery, cluster-balanced
  * mixture, SemDeDup cell structure), complementing the sampled
  * driver-local fit that seeds the ANN indexes ([[Similarity]]'s
  * `localKMeans`, which is an index-build primitive over a ≤20k-row
  * sample). Lloyd 1982 (IEEE Trans. IT 28(2)); the distributed shape is
  * the classic map-side-combine form (e.g. MLlib's KMeans): per
  * iteration, assignment is a pure MAP (argmin over k broadcast-literal
  * centroids — no join, no shuffle), and the centroid update is ONE
  * shuffle keyed by (cluster, dim) — k·dim distinct keys, so map-side
  * partial aggregation reduces each partition to at most k·dim rows
  * regardless of corpus size. The k·dim model rows are collected to the
  * driver per iteration (bounded model state, same envelope as the BPE
  * merge table) and re-broadcast as literals.
  *
  * All arithmetic is EXACT fixed-point int64/DECIMAL(38,0): each
  * embedding component quantizes once through the proven
  * double→DECIMAL(16,6)→scale-6 int64 cast (the [[Similarity.dimStats]]
  * cross-engine pattern), distances are integer sums of squared diffs
  * (|x|<10 ⇒ per-dim diff² < 4e14, ×dim ≤ 64 fits int64), centroid
  * means are sign-split truncating division on DECIMAL(38,0)/HUGEINT
  * (the GroupTests spelling) — so the ENTIRE fit, init through final
  * assignment, is bit-exactly reproducible by an independent engine:
  * [[oracleCtes]] emits the DuckDB CTE chain from the same iteration
  * count. Determinism: init = the k lowest vec_ids' vectors; argmin
  * ties break to the lowest cluster id; empty clusters carry their
  * previous centroid.
  */
object KMeans {

  /** Fixed-point scale: 1e6 (DECIMAL(16,6) cast = one correctly-rounded
    * decimal rounding of the per-row double, identical on both engines).
    */
  val Scale = 1000000L

  /** array<float> embedding → array<long> scale-6 fixed point. */
  def quantize(emb: Column): Column =
    transform(emb.cast("array<double>"),
      x => (x.cast(DecimalType(16, 6)) * lit(Scale)).cast(LongType))

  /** (vec_id, label, v=quantized vector) frame all stages share. */
  private def fpFrame(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("v"))

  /** Integer squared L2 distance of column `v` to one literal centroid. */
  private def d2To(v: Column, cent: Array[Long]): Column =
    aggregate(
      zip_with(v, typedLit(cent.toSeq), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** Assignment = a pure map: argmin over k literal centroids. No join,
    * no shuffle — the centroids ride into the codegen'd expression as one
    * reference object ([[graft.functions.NearestCentroidFp]], the native
    * one-loop twin of the array_min-over-(d2, cid)-structs HOF spelling,
    * equality-spec-pinned against it; the HOF form re-entered two
    * interpreted lambdas per element per centroid and dominated every
    * kmeans_* query).
    */
  def assignTo(fp: DataFrame, cents: Array[Array[Long]]): DataFrame =
    fp.withColumn("best",
        graft.functions.GraftColumns.nearestCentroidFp(col("v"), cents))
      .withColumn("cluster", col("best.cid"))
      .withColumn("d2", col("best.d2"))
      .drop("best")

  /** The compositional HOF spelling of [[assignTo]] — retained for the
    * equality spec that pins the native expression to it. */
  private[graft] def assignToDecl(fp: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val scored = cents.zipWithIndex.map { case (c, cid) =>
      struct(d2To(col("v"), c).as("d2"), lit(cid).as("cid"))
    }
    fp.withColumn("best", array_min(array(scored.toIndexedSeq: _*)))
      .withColumn("cluster", col("best.cid"))
      .withColumn("d2", col("best.d2"))
      .drop("best")
  }

  /** Sign-split truncating quotient of the DECIMAL(38,0) component sum by
    * the cluster count — spelled identically on both engines (Spark DIV /
    * DuckDB `//` are kept on non-negative operands so floor-vs-trunc can
    * never diverge).
    */
  private val quotientSql =
    "CASE WHEN s >= 0 THEN CAST(s DIV CAST(n AS DECIMAL(38,0)) AS BIGINT) " +
      "ELSE -CAST((-s) DIV CAST(n AS DECIMAL(38,0)) AS BIGINT) END"

  /** One Lloyd fit: init from the k lowest vec_ids, `iters` exact update
    * rounds. Returns the k×dim fixed-point centroid model.
    */
  def fit(embeddings: DataFrame, k: Int = 8, iters: Int = 3): Array[Array[Long]] =
    fitFp(fpFrame(embeddings), k, iters)

  /** The fit over ANY (vec_id, …, v: array<long>) frame — the float
    * embedding path quantizes first ([[fit]]); integer feature vectors
    * (e.g. [[hashedTextFp]]'s hashed token counts) enter as-is.
    */
  def fitFp(fp: DataFrame, k: Int, iters: Int): Array[Array[Long]] = {
    // The fit is eager (init + iters actions over fp), so persist for its
    // lifetime and release before returning — the MLlib KMeans discipline.
    // Without it, a derived fp (e.g. hashedTextFp's token hashing) is
    // recomputed from source on every iteration.
    val pinned = fp.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = initCents(pinned, k)
      var it = 0
      while (it < iters) {
        cents = updateCentsFrom(assignTo(pinned, cents), cents)
        it += 1
      }
      cents
    } finally pinned.unpersist(blocking = false)
  }

  /** Deterministic init: the k lowest vec_ids' vectors. */
  private def initCents(fp: DataFrame, k: Int): Array[Array[Long]] = {
    val cents = fp.orderBy(col("vec_id")).limit(k).select(col("v")).collect()
      .map(_.getSeq[Long](0).toArray)
    require(cents.length == k, s"corpus has fewer than k=$k vectors")
    cents
  }

  /** One exact centroid update from an already-assigned frame: DECIMAL
    * sums per (cluster, dim), truncating mean, empty-cluster carry.
    * Bounded collect: k·dim model rows (the new centroids), not data.
    * The SINGLE spelling of the update — fit and convergence both call
    * it, so they cannot diverge from each other or the oracle generator.
    */
  private def updateCentsFrom(
      assigned: DataFrame, cents: Array[Array[Long]]): Array[Array[Long]] = {
    val rows = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(sum(col("x").cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("n"))
      .withColumn("c", expr(quotientSql))
      .select(col("cluster"), col("dim"), col("c"))
      .collect()
    val next = cents.map(_.clone) // empty-cluster carry
    rows.foreach { r => next(r.getInt(0))(r.getInt(1)) = r.getLong(2) }
    next
  }

  // Session fit cache so the cluster/prototype/convergence queries over
  // the same corpus share one fit per (input, k, iters).
  private val fits = new FitMemo[(Int, Int), Array[Array[Long]]](32)

  private def fitFpCached(fp: DataFrame, k: Int, iters: Int): Array[Array[Long]] =
    fits.getOrFit(fp, (k, iters))(fitFp(fp, k, iters))

  private def fitCached(embeddings: DataFrame, k: Int, iters: Int): Array[Array[Long]] =
    fitFpCached(fpFrame(embeddings), k, iters)

  /** Per-cluster profile against the final centroids: size, exact
    * fixed-point inertia (DECIMAL(38,0), emitted as a string — the
    * w1_value_drift lesson: DuckDB materializes big decimals as float64),
    * centroid component checksum, and the majority label with its count
    * (the purity audit a labeled eval corpus gives for free).
    */
  def clusterProfile(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame =
    profileFp(fpFrame(embeddings), k, iters, "top_label")

  private def profileFp(
      fp: DataFrame, k: Int, iters: Int, labelOut: String): DataFrame = {
    val cents = fitFpCached(fp, k, iters)
    val a = assignTo(fp, cents)
    val byC = a.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("d2").cast(DecimalType(38, 0))).cast("string").as("inertia"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_lab").desc, col("label"))
    val lab = a.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n_lab"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("label").as(labelOut),
        col("n_lab").as(s"${labelOut}_n"))
    val spark = fp.sparkSession
    import spark.implicits._
    val centSum = cents.zipWithIndex
      .map { case (c, cid) => (cid, c.sum) }.toSeq
      .toDF("cluster", "centroid_sum")
    byC.join(lab, "cluster").join(broadcast(centSum), "cluster")
      .select(col("cluster"), col("n_vecs"), col("inertia"),
        col("centroid_sum"), col(labelOut), col(s"${labelOut}_n"))
      .orderBy(col("cluster"))
  }

  /** Cluster separation audit (Davies–Bouldin-style, squared-distance
    * form kept integer-exact): per cluster, the truncating-mean scatter
    * (mean d2 of members to their centroid) against the squared distance
    * to the NEAREST other centroid, plus their ratio — the "are these
    * domains actually distinct" check after any fit. Scatter reuses the
    * assignment aggregate; the k² centroid-pair distances are driver
    * arithmetic on the already-collected model. The ratio is one double
    * division of two exact integers (deterministic cross-engine); NULL
    * when two centroids coincide rather than an engine-specific ∞.
    */
  def separation(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val cents = fitCached(embeddings, k, iters)
    val a = assignTo(fpFrame(embeddings), cents)
    val scatter = a.groupBy(col("cluster"))
      .agg(sum(col("d2").cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("n"))
      .withColumn("scatter_d2", expr(quotientSql))
      .select(col("cluster"), col("n").as("n_vecs"), col("scatter_d2"))
    def d2(x: Array[Long], y: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
      s
    }
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sep = cents.indices.map { i =>
      (i, cents.indices.filter(_ != i).map(j => d2(cents(i), cents(j))).min)
    }.toDF("cluster", "min_sep_d2")
    scatter.join(broadcast(sep), "cluster")
      .withColumn("ratio",
        when(col("min_sep_d2") === 0, lit(null).cast("double"))
          .otherwise(col("scatter_d2").cast("double") / col("min_sep_d2").cast("double")))
      .select(col("cluster"), col("n_vecs"), col("scatter_d2"),
        col("min_sep_d2"), col("ratio"))
      .orderBy(col("cluster"))
  }

  /** Full oracle for [[separation]]. */
  def separationOracleSql(k: Int = 8, iters: Int = 3): String =
    s"""WITH ${oracleCtes(k, iters)},
      |sc AS (
      |  SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
      |    CAST(sum(d2) AS HUGEINT) AS s, CAST(count(*) AS HUGEINT) AS n
      |  FROM af GROUP BY 1),
      |sct AS (
      |  SELECT cluster, n_vecs,
      |    CASE WHEN s >= 0 THEN CAST(s // n AS BIGINT)
      |         ELSE -CAST((-s) // n AS BIGINT) END AS scatter_d2
      |  FROM sc),
      |sep AS (
      |  SELECT a.cid AS cluster,
      |    CAST(min(list_aggregate(list_transform(range(1, len(a.v) + 1),
      |      i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])), 'sum')) AS BIGINT)
      |      AS min_sep_d2
      |  FROM c$iters a, c$iters b WHERE a.cid <> b.cid GROUP BY 1)
      |SELECT cluster, n_vecs, scatter_d2, min_sep_d2,
      |  CASE WHEN min_sep_d2 = 0 THEN NULL
      |       ELSE CAST(scatter_d2 AS DOUBLE) / CAST(min_sep_d2 AS DOUBLE) END AS ratio
      |FROM sct JOIN sep USING (cluster)
      |ORDER BY cluster""".stripMargin

  /** Feature-hashed token-count vectors straight from raw text — the
    * embedding-free entry into the whole vector stack (clustering here;
    * the same frame feeds any v-consuming operator). One FNV-1a bucket
    * per token occurrence (the hashing trick, Weinberger ICML'09), `dim`
    * a power of two so the engine's signed pmod and the oracle's
    * unsigned HUGEINT modulo take the same low bits. Exact integer
    * counts: no quantization step, no float anywhere.
    */
  def hashedTextFp(documents: DataFrame, dim: Int = 16): DataFrame = {
    require(Integer.bitCount(dim) == 1, s"dim must be a power of two, got $dim")
    val toks = documents.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val bc = toks
      .select(col("doc_id"),
        pmod(graft.functions.GraftColumns.fnv1a64(col("tok")), lit(dim.toLong))
          .cast("int").as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
    val vecs = bc.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("c")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("v"))
    // Left join + zero fill: a NULL-text document stays in the corpus as
    // the zero vector (the oracle's CROSS JOIN grid has the same
    // semantics) instead of silently vanishing from the clustering.
    documents.select(col("doc_id").as("vec_id"), col("source").as("label"))
      .join(vecs.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .withColumn("v", coalesce(col("v"), typedLit(Seq.fill(dim)(0L))))
  }

  /** Domain discovery from RAW TEXT, no external embeddings: k-means over
    * the hashed token-count vectors, profiled per cluster with the
    * majority `source` — the label-free "what domains does this corpus
    * contain, and do they track the known sources" audit.
    */
  def textDomains(
      documents: DataFrame, dim: Int = 16, k: Int = 8, iters: Int = 3): DataFrame =
    profileFp(hashedTextFp(documents, dim), k, iters, "top_source")

  /** Cluster-balanced prototype selection: per cluster, the `quota` most
    * central vectors (quota = the smallest cluster's size, so the output
    * is exactly balanced), ranked by exact distance with vec_id
    * tie-break. The coreset/balanced-subset curation step cluster
    * structure exists for — a window top-q per cluster, no extra shuffle
    * beyond the assignment's (the window repartitions by cluster).
    */
  def prototypes(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val cents = fitCached(embeddings, k, iters)
    val a = assignTo(fpFrame(embeddings), cents)
    val quota = a.groupBy(col("cluster")).agg(count(lit(1)).as("nc"))
      .agg(min(col("nc")).as("quota"))
    val w = Window.partitionBy(col("cluster")).orderBy(col("d2"), col("vec_id"))
    a.withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(quota))
      .filter(col("rank") <= col("quota"))
      .select(col("cluster"), col("rank"), col("vec_id"), col("d2"))
      .orderBy(col("cluster"), col("rank"))
  }

  /** Convergence audit: per update iteration, the exact inertia of that
    * iteration's assignment and how many vectors changed cluster vs the
    * previous one (iteration 0 counts every vector as newly assigned).
    * One extra pass per iteration; every per-iteration frame is a
    * map-assignment + tiny aggregate, unioned lazily — no driver loop
    * over data.
    */
  def convergence(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val fp = fpFrame(embeddings)
    var cents = initCents(fp, k)
    var prev: Option[DataFrame] = None
    var out: Option[DataFrame] = None
    var t = 0
    while (t < iters) {
      val a = assignTo(fp, cents)
      val stats = a.agg(
        sum(col("d2").cast(DecimalType(38, 0))).cast("string").as("inertia"),
        count(lit(1)).as("n_vecs"))
      val moved = prev match {
        case Some(p) =>
          a.select(col("vec_id"), col("cluster"))
            .join(p.select(col("vec_id"), col("cluster").as("pc")), "vec_id")
            .filter(col("cluster") =!= col("pc"))
            .agg(count(lit(1)).as("n_moved"))
        case None => stats.select(col("n_vecs").as("n_moved"))
      }
      val row = stats.crossJoin(moved)
        .select(lit(t).as("iter"), col("inertia"), col("n_vecs"), col("n_moved"))
      out = Some(out.map(_.unionByName(row)).getOrElse(row))
      prev = Some(a)
      cents = updateCentsFrom(a, cents)
      t += 1
    }
    out.get.orderBy(col("iter"))
  }

  /** Persist a fitted centroid model as a plain parquet table
    * (cluster, dim, c) — the build-once/assign-many regime the ANN index
    * persistence (Similarity.saveIndexModel) established: fixed-point
    * longs round-trip parquet bit-exactly, so a loaded model assigns
    * identically to the session fit. Path may be local/HDFS/S3A.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession,
      path: String, cents: Array[Array[Long]]): Unit = {
    import spark.implicits._
    cents.zipWithIndex
      .flatMap { case (c, cid) => c.zipWithIndex.map { case (x, d) => (cid, d, x) } }
      .toSeq.toDF("cluster", "dim", "c")
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveModel]] table back into the k×dim model array; fails
    * loudly on a ragged or empty model rather than assigning garbage.
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Long]] = {
    val rows = spark.read.parquet(path)
      .select(col("cluster").cast("int"), col("dim").cast("int"), col("c").cast("long"))
      .collect()
    require(rows.nonEmpty, s"empty kmeans model at $path")
    val k = rows.map(_.getInt(0)).max + 1
    val dim = rows.map(_.getInt(1)).max + 1
    require(rows.length == k * dim, s"ragged kmeans model at $path: ${rows.length} rows, k=$k dim=$dim")
    val distinctCells = rows.map(r => (r.getInt(0), r.getInt(1))).distinct.length
    require(distinctCells == rows.length,
      s"duplicate (cluster, dim) rows in kmeans model at $path")
    val cents = Array.ofDim[Long](k, dim)
    rows.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    cents
  }

  /** Cluster-balanced domain mixture: documents join their embedding's
    * cluster (doc_id = vec_id, the hybridDedup convention), and each
    * discovered "domain" gets the same token budget, filled most-central-
    * first ([[Mixture.tokenBudgetSample]]'s admit rule: a doc enters while
    * its cluster's budget is not yet exhausted). The cluster-then-balance
    * curation step (domain discovery without labels): one doc_id equi-join
    * + one per-cluster window — both scale-safe (the window partitions by
    * cluster; at corpus scale the per-cluster prefix is the same shape as
    * the source-keyed budget sampler's).
    */
  def domainMixture(
      documents: DataFrame, embeddings: DataFrame,
      k: Int = 8, iters: Int = 3, budgetTokens: Long = 2000L): DataFrame = {
    val cents = fitCached(embeddings, k, iters)
    val a = assignTo(fpFrame(embeddings), cents)
      .select(col("vec_id").as("doc_id"), col("cluster"), col("d2"))
    val toks = documents.select(col("doc_id"),
      graft.functions.TextAnalysis.wsTokenCount(col("text")).as("tokens"))
    val joined = toks.join(a, "doc_id")
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("d2"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sel = joined
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .filter(col("cum_tokens") - col("tokens") < lit(budgetTokens))
    val total = joined.groupBy(col("cluster")).agg(
      count(lit(1)).as("docs_total"), sum(col("tokens")).as("tokens_total"))
    sel.groupBy(col("cluster")).agg(
      count(lit(1)).as("docs_sel"), sum(col("tokens")).as("tokens_sel"))
      .join(total, "cluster")
      .select(col("cluster"), col("docs_sel"), col("tokens_sel"),
        col("docs_total"), col("tokens_total"))
      .orderBy(col("cluster"))
  }

  /** Full oracle for [[domainMixture]]. */
  def domainMixtureOracleSql(
      k: Int = 8, iters: Int = 3, budgetTokens: Long = 2000L): String =
    s"""WITH ${oracleCtes(k, iters)},
      |t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
      |  FROM documents),
      |j AS (
      |  SELECT af.cid AS cluster, af.vec_id AS doc_id, af.d2, t.tokens
      |  FROM af JOIN t ON t.doc_id = af.vec_id),
      |cum AS (
      |  SELECT *, sum(tokens) OVER (
      |    PARTITION BY cluster ORDER BY d2, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM j),
      |sel AS (
      |  SELECT cluster, CAST(count(*) AS BIGINT) AS docs_sel,
      |    CAST(sum(tokens) AS BIGINT) AS tokens_sel
      |  FROM cum WHERE cum_tokens - tokens < $budgetTokens GROUP BY 1),
      |tot AS (
      |  SELECT cluster, CAST(count(*) AS BIGINT) AS docs_total,
      |    CAST(sum(tokens) AS BIGINT) AS tokens_total
      |  FROM j GROUP BY 1)
      |SELECT cluster, docs_sel, tokens_sel, docs_total, tokens_total
      |FROM sel JOIN tot USING (cluster)
      |ORDER BY cluster""".stripMargin

  /** Incremental centroid update — the continual-ingest path: an arrival
    * batch is assigned to the STANDING model's centroids (map-only), and
    * the model advances by merging exact sufficient statistics (per-
    * cluster component sums + counts, both DECIMAL(38,0)-exact), so the
    * updated mean is the true mean over standing∪arrivals with no
    * refit — the mini-batch k-means update step (Sculley WWW'10) in
    * exact arithmetic. Emits one row per cluster: standing/arrival
    * membership, centroid checksum before/after, and the L1 drift of the
    * centroid — the signal a production pipeline alerts on (domain shift
    * in arrivals). The spine is the k×dim exploded model (broadcast), so
    * clusters with no members in either side carry through unchanged.
    */
  def incrementalUpdate(
      standing: DataFrame, arrivals: DataFrame,
      k: Int = 8, iters: Int = 3): DataFrame = {
    val cents = fitCached(standing, k, iters)
    val aSt = assignTo(fpFrame(standing), cents)
    val aArr = assignTo(fpFrame(arrivals), cents)
    def stats(a: DataFrame, p: String) = a
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(sum(col("x").cast(DecimalType(38, 0))).as(s"s_$p"),
        count(lit(1)).as(s"n_$p"))
    val spark = standing.sparkSession
    import spark.implicits._
    val before = cents.zipWithIndex
      .flatMap { case (c, cid) => c.zipWithIndex.map { case (x, d) => (cid, d, x) } }
      .toSeq.toDF("cluster", "dim", "cb")
    // Every frame here is model-sized (≤ k·dim rows after the partial
    // aggregation) — broadcast the probe sides; the spine stays intact.
    val merged = before
      .join(broadcast(stats(aSt, "st")), Seq("cluster", "dim"), "left")
      .join(broadcast(stats(aArr, "ar")), Seq("cluster", "dim"), "left")
      .withColumn("s", coalesce(col("s_st"), lit(0).cast(DecimalType(38, 0)))
        + coalesce(col("s_ar"), lit(0).cast(DecimalType(38, 0))))
      .withColumn("n", coalesce(col("n_st"), lit(0L)) + coalesce(col("n_ar"), lit(0L)))
      .withColumn("ca", when(col("n") === 0, col("cb")).otherwise(expr(quotientSql)))
    // Membership counts ride on the stats rows (every dim of a cluster
    // carries the same n), so no extra assignment pass over either corpus.
    merged.groupBy(col("cluster")).agg(
      max(coalesce(col("n_st"), lit(0L))).as("n_standing"),
      max(coalesce(col("n_ar"), lit(0L))).as("n_arrivals"),
      sum(col("cb")).as("centroid_before_sum"),
      sum(col("ca")).as("centroid_after_sum"),
      sum(abs(col("ca") - col("cb"))).as("drift"))
      .select(col("cluster"), col("n_standing"), col("n_arrivals"),
        col("centroid_before_sum"), col("centroid_after_sum"), col("drift"))
      .orderBy(col("cluster"))
  }

  /** Full oracle for [[incrementalUpdate]] with the standing/arrival split
    * at `splitId` (the incremental_dedup convention: arrivals are
    * vec_id >= splitId).
    */
  def incrementalUpdateOracleSql(
      k: Int = 8, iters: Int = 3, splitId: Long = 250L): String =
    s"""WITH ${oracleCtes(k, iters, s" WHERE vec_id < $splitId")},
      |arr AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(16,6)) * $Scale AS BIGINT)) AS v
      |  FROM embeddings WHERE vec_id >= $splitId),
      |sarr AS (
      |  SELECT a.vec_id, c.cid,
      |    list_aggregate(list_transform(range(1, len(a.v) + 1),
      |      i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i])), 'sum') AS d2
      |  FROM arr a, c$iters c),
      |aarr AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM sarr)
      |  WHERE rn = 1),
      |stst AS (
      |  SELECT cid, CAST(u.dim AS INT) AS dim,
      |    CAST(sum(u.x) AS HUGEINT) AS s_st, CAST(count(*) AS HUGEINT) AS n_st
      |  FROM (
      |    SELECT a.cid, unnest(list_transform(range(1, len(e.v) + 1),
      |      i -> {'dim': i - 1, 'x': e.v[i]})) AS u
      |    FROM af a JOIN e USING (vec_id))
      |  GROUP BY 1, 2),
      |star AS (
      |  SELECT cid, CAST(u.dim AS INT) AS dim,
      |    CAST(sum(u.x) AS HUGEINT) AS s_ar, CAST(count(*) AS HUGEINT) AS n_ar
      |  FROM (
      |    SELECT a.cid, unnest(list_transform(range(1, len(arr.v) + 1),
      |      i -> {'dim': i - 1, 'x': arr.v[i]})) AS u
      |    FROM aarr a JOIN arr USING (vec_id))
      |  GROUP BY 1, 2),
      |spine AS (
      |  SELECT c.cid, CAST(u.dim AS INT) AS dim, u.x AS cb
      |  FROM (
      |    SELECT cid, unnest(list_transform(range(1, len(v) + 1),
      |      i -> {'dim': i - 1, 'x': v[i]})) AS u
      |    FROM c$iters) c),
      |mrg AS (
      |  SELECT sp.cid, sp.dim, sp.cb,
      |    coalesce(st.s_st, 0::HUGEINT) + coalesce(ar.s_ar, 0::HUGEINT) AS s,
      |    coalesce(st.n_st, 0::HUGEINT) + coalesce(ar.n_ar, 0::HUGEINT) AS n
      |  FROM spine sp
      |  LEFT JOIN stst st ON st.cid = sp.cid AND st.dim = sp.dim
      |  LEFT JOIN star ar ON ar.cid = sp.cid AND ar.dim = sp.dim),
      |upd AS (
      |  SELECT cid, dim, cb,
      |    CASE WHEN n = 0 THEN cb
      |         WHEN s >= 0 THEN CAST(s // n AS BIGINT)
      |         ELSE -CAST((-s) // n AS BIGINT) END AS ca
      |  FROM mrg),
      |pc AS (
      |  SELECT cid AS cluster,
      |    CAST(sum(cb) AS BIGINT) AS centroid_before_sum,
      |    CAST(sum(ca) AS BIGINT) AS centroid_after_sum,
      |    CAST(sum(abs(ca - cb)) AS BIGINT) AS drift
      |  FROM upd GROUP BY 1),
      |nst AS (SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_standing FROM af GROUP BY 1),
      |nar AS (SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_arrivals FROM aarr GROUP BY 1)
      |SELECT pc.cluster,
      |  coalesce(nst.n_standing, 0) AS n_standing,
      |  coalesce(nar.n_arrivals, 0) AS n_arrivals,
      |  centroid_before_sum, centroid_after_sum, drift
      |FROM pc
      |LEFT JOIN nst USING (cluster)
      |LEFT JOIN nar USING (cluster)
      |ORDER BY cluster""".stripMargin

  // ---- DuckDB oracle: the whole fit as one CTE chain -------------------

  /** CTEs `e` (quantized corpus), `c0..c$iters` (centroids per round),
    * `s$t`/`a$t` (scored/argmin assignment), `q$t`/`g$t` (exact means),
    * plus the FINAL assignment `af` against `c$iters`. Emitted from one
    * generator so engine and oracle can only diverge by semantics, never
    * by a typo (the SketchOracles discipline).
    */
  def oracleCtes(k: Int, iters: Int, srcWhere: String = "", p: String = "",
      eOverride: String = ""): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += (if (eOverride.nonEmpty) s"${p}e AS ($eOverride)"
    else s"""${p}e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(16,6)) * $Scale AS BIGINT)) AS v
      |  FROM embeddings$srcWhere)""".stripMargin)
    parts += s"""${p}c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
      |  FROM (SELECT vec_id, v FROM ${p}e ORDER BY vec_id LIMIT $k))""".stripMargin
    def assignCtes(sName: String, aName: String, cName: String): Seq[String] = Seq(
      s"""$sName AS (
        |  SELECT e.vec_id, c.cid,
        |    list_aggregate(list_transform(range(1, len(e.v) + 1),
        |      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])), 'sum') AS d2
        |  FROM ${p}e e, $cName c)""".stripMargin,
      s"""$aName AS (
        |  SELECT vec_id, cid, d2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM $sName)
        |  WHERE rn = 1)""".stripMargin)
    for (t <- 0 until iters) {
      parts ++= assignCtes(s"${p}s$t", s"${p}a$t", s"${p}c$t")
      parts += s"""${p}m$t AS (
        |  SELECT cid, CAST(u.dim AS INT) AS dim,
        |    CAST(sum(u.x) AS HUGEINT) AS s, CAST(count(*) AS HUGEINT) AS n
        |  FROM (
        |    SELECT a.cid, unnest(list_transform(range(1, len(e.v) + 1),
        |      i -> {'dim': i - 1, 'x': e.v[i]})) AS u
        |    FROM ${p}a$t a JOIN ${p}e e USING (vec_id))
        |  GROUP BY 1, 2)""".stripMargin
      parts += s"""${p}q$t AS (
        |  SELECT cid, dim,
        |    CASE WHEN s >= 0 THEN CAST(s // n AS BIGINT)
        |         ELSE -CAST((-s) // n AS BIGINT) END AS c
        |  FROM ${p}m$t)""".stripMargin
      parts += s"${p}g$t AS (SELECT cid, list(c ORDER BY dim) AS v FROM ${p}q$t GROUP BY cid)"
      parts += s"""${p}c${t + 1} AS (
        |  SELECT p.cid, coalesce(g.v, p.v) AS v
        |  FROM ${p}c$t p LEFT JOIN ${p}g$t g USING (cid))""".stripMargin
    }
    parts ++= assignCtes(s"${p}sf", s"${p}af", s"${p}c$iters")
    parts.mkString(",\n")
  }

  /** Elbow audit — final-assignment inertia for a ladder of k (model
    * selection: where the exact inertia stops paying for more clusters).
    * Each k is an independent cached fit over the shared quantized frame.
    */
  def elbow(embeddings: DataFrame, ks: Seq[Int] = Seq(2, 4, 8), iters: Int = 3): DataFrame = {
    val fp = fpFrame(embeddings)
    ks.map { k =>
      val cents = fitCached(embeddings, k, iters)
      assignTo(fp, cents).agg(
        sum(col("d2").cast(DecimalType(38, 0))).cast("string").as("inertia"),
        count(lit(1)).as("n_vecs"))
        .select(lit(k).as("k"), col("inertia"), col("n_vecs"))
    }.reduce(_ unionByName _).orderBy(col("k"))
  }

  /** Full oracle for [[elbow]]: one prefixed fit chain per k. */
  def elbowOracleSql(ks: Seq[Int] = Seq(2, 4, 8), iters: Int = 3): String = {
    val chains = ks.map(k => oracleCtes(k, iters, "", s"k${k}_")).mkString(",\n")
    val rows = ks.map { k =>
      s"""SELECT CAST($k AS INT) AS k,
        |  (SELECT CAST(CAST(sum(d2) AS HUGEINT) AS VARCHAR) FROM k${k}_af) AS inertia,
        |  (SELECT CAST(count(*) AS BIGINT) FROM k${k}_af) AS n_vecs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $chains\n$rows\nORDER BY k"
  }

  /** Shared profile tail over the fit chain's `e`/`af`/`c$iters` CTEs. */
  private def profileTailSql(iters: Int, labelOut: String): String =
    s""",
      |byc AS (
      |  SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
      |    CAST(CAST(sum(d2) AS HUGEINT) AS VARCHAR) AS inertia
      |  FROM af GROUP BY 1),
      |lab0 AS (
      |  SELECT a.cid AS cluster, e.label, count(*) AS n_lab
      |  FROM af a JOIN e USING (vec_id) GROUP BY 1, 2),
      |lab AS (
      |  SELECT cluster, label AS $labelOut, CAST(n_lab AS BIGINT) AS ${labelOut}_n
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY cluster ORDER BY n_lab DESC, label) AS rn
      |        FROM lab0)
      |  WHERE rn = 1),
      |cs AS (
      |  SELECT cid AS cluster,
      |    CAST(list_aggregate(v, 'sum') AS BIGINT) AS centroid_sum
      |  FROM c$iters)
      |SELECT byc.cluster, n_vecs, inertia, centroid_sum, $labelOut, ${labelOut}_n
      |FROM byc JOIN lab USING (cluster) JOIN cs USING (cluster)
      |ORDER BY cluster""".stripMargin

  /** Full oracle for [[clusterProfile]]. */
  def clusterProfileOracleSql(k: Int = 8, iters: Int = 3): String =
    s"WITH ${oracleCtes(k, iters)}" + profileTailSql(iters, "top_label")

  /** Full oracle for [[textDomains]]: the hashing-trick vectors built in
    * SQL (FNV-1a per token via the SketchOracles HUGEINT chain, power-of-
    * two modulo, zero-filled count lists), then the SAME generated fit
    * chain and profile tail — the entire text→vector→cluster pipeline
    * reproduced by an independent engine.
    */
  def textDomainsOracleSql(dim: Int = 16, k: Int = 8, iters: Int = 3): String = {
    val fnv = graft.SketchOracles.fnvExpr("tok")
    val guard = graft.SketchOracles.asciiGuard
    val textCtes =
      s"""tvtok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE $guard = 0),
        |tvb AS (SELECT doc_id, CAST(($fnv) % $dim AS INT) AS b FROM tvtok),
        |tvbc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
        |  FROM tvb GROUP BY 1, 2),
        |tvfull AS (
        |  SELECT d.doc_id, g.b, coalesce(bc.c, 0) AS c
        |  FROM documents d
        |  CROSS JOIN (SELECT CAST(unnest(range(0, $dim)) AS INT) AS b) g
        |  LEFT JOIN tvbc bc ON bc.doc_id = d.doc_id AND bc.b = g.b),
        |tvv AS (SELECT doc_id, list(c ORDER BY b) AS v FROM tvfull GROUP BY 1)""".stripMargin
    s"WITH $textCtes,\n" +
      oracleCtes(k, iters, eOverride =
        "SELECT d.doc_id AS vec_id, d.source AS label, tvv.v " +
          "FROM documents d JOIN tvv USING (doc_id)") +
      profileTailSql(iters, "top_source")
  }

  /** Full oracle for [[prototypes]]. */
  def prototypesOracleSql(k: Int = 8, iters: Int = 3): String =
    s"""WITH ${oracleCtes(k, iters)},
      |quota AS (
      |  SELECT min(nc) AS q FROM (
      |    SELECT count(*) AS nc FROM af GROUP BY cid)),
      |r AS (
      |  SELECT cid AS cluster, vec_id, d2, CAST(row_number() OVER (
      |    PARTITION BY cid ORDER BY d2, vec_id) AS INT) AS rank
      |  FROM af)
      |SELECT cluster, rank, vec_id, CAST(d2 AS BIGINT) AS d2
      |FROM r, quota WHERE rank <= quota.q
      |ORDER BY cluster, rank""".stripMargin

  /** Full oracle for [[convergence]]. */
  def convergenceOracleSql(k: Int = 8, iters: Int = 3): String = {
    val rows = (0 until iters).map { t =>
      val moved =
        if (t == 0) "(SELECT CAST(count(*) AS BIGINT) FROM a0)"
        else
          s"""(SELECT CAST(count(*) AS BIGINT)
            | FROM a$t x JOIN a${t - 1} p USING (vec_id)
            | WHERE x.cid <> p.cid)""".stripMargin
      s"""SELECT CAST($t AS INT) AS iter,
        |  (SELECT CAST(CAST(sum(d2) AS HUGEINT) AS VARCHAR) FROM a$t) AS inertia,
        |  (SELECT CAST(count(*) AS BIGINT) FROM a$t) AS n_vecs,
        |  $moved AS n_moved""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${oracleCtes(k, iters)}
      |$rows
      |ORDER BY iter""".stripMargin
  }
}
