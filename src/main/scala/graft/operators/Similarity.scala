package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (`array<float>`).
  *
  * Two paths, as a production pipeline would ship them:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *     Queries are broadcast, so the corpus scan is shuffle-free and the
  *     top-k is a per-partition heap (TakeOrderedAndProject shape) — this
  *     scales to any corpus size as long as the QUERY set is broadcastable.
  *   - [[lshBucketedTopK]]: random-hyperplane LSH — corpus and queries are
  *     bucketed by sign-pattern; only same-bucket pairs are scored. The
  *     candidate join is an equi-join on bucket id (hash-partitionable),
  *     which replaces the all-pairs product at scale, trading recall.
  *
  * All arithmetic is double-precision left-to-right folds, bit-identical
  * to the DuckDB oracle's list_cosine_similarity.
  */
object Similarity {

  /** Native one-loop dot product ([[graft.functions.DotProduct]]),
    * bit-identical to the compositional aggregate/zip_with fold, ~10x
    * faster (codegen vs the interpreted higher-order-function path).
    */
  private def dot(x: Column, y: Column): Column =
    graft.functions.GraftColumns.dotProduct(x, y)

  /** Cosine similarity of two vector columns (cast to array<double>;
    * [[graft.functions.CosineSim]] under the hood).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftColumns.cosineSim(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Exact top-k neighbors for each query vector (query set = vec_id <
    * numQueries, self-match excluded).
    */
  def bruteForceTopK(embeddings: DataFrame, numQueries: Int = 8, k: Int = 5): DataFrame = {
    // cast to array<double> once per ROW, before the pair join — a cast in
    // the pair projection would re-materialize the array per pair
    val emb = embeddings.select(
      col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = emb
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = emb
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKBySim(scored, k)
  }

  /** Each query's `k` most similar neighbors by `sim` (ties to the lower
    * neighbor_id), numbered `rnk` and ordered by (query_id, rnk).
    */
  private def topKBySim(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(desc("sim"), asc("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Hard-negative mining (the contrastive-training data step, e.g. DPR,
    * Karpukhin et al. EMNLP 2020 §3.2): for each anchor, the most-similar
    * vectors with a DIFFERENT label — the negatives that actually teach a
    * bi-encoder something, unlike random negatives a dot product already
    * separates. Same brute-force shape (and the same exact-cosine oracle
    * spelling) as [[bruteForceTopK]], plus the cross-label filter; at
    * corpus scale the anchor set broadcasts and the scan stays linear,
    * with the LSH/IVF index paths as drop-in candidate generators.
    */
  def hardNegatives(
      embeddings: DataFrame, numAnchors: Int = 8, k: Int = 3): DataFrame = {
    val emb = embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("embedding"))
    val anchors = emb
      .filter(col("vec_id") < numAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("embedding").as("qe"))
    val scored = emb
      .join(broadcast(anchors), col("label") =!= col("anchor_label"))
      .select(
        col("anchor_id"), col("anchor_label"),
        col("vec_id").as("negative_id"), col("label").as("negative_label"),
        cosine(col("qe"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(desc("sim"), asc("negative_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy(col("anchor_id"), col("rnk"))
  }

  def hardNegativesOracleSql(numAnchors: Int = 8, k: Int = 3): String =
    s"""WITH a AS (SELECT vec_id AS anchor_id, label AS anchor_label,
       |             embedding AS qe
       |           FROM embeddings WHERE vec_id < $numAnchors),
       |p AS (SELECT anchor_id, anchor_label, vec_id AS negative_id,
       |        label AS negative_label,
       |        list_cosine_similarity(qe::DOUBLE[], embedding::DOUBLE[])
       |          AS sim
       |      FROM embeddings, a WHERE label <> anchor_label),
       |r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |        ORDER BY sim DESC, negative_id) AS rnk
       |      FROM p)
       |SELECT anchor_id, anchor_label, negative_id, negative_label, sim,
       |  rnk
       |FROM r WHERE rnk <= $k ORDER BY anchor_id, rnk""".stripMargin

  /** IVF coarse-quantizer cache: an inverted-file index is built once and
    * queried many times — rebuilding the quantizer per query call would
    * charge the index build to every search. Keyed by
    * [[PlanCache.planKey]] + parameters; seeded fits are deterministic, so
    * a hit is exact. Bounded by wholesale eviction past 16 entries.
    */
  private val quantizerCache = new FitMemo[(Int, Long), Array[Array[Double]]](16)

  /** Fitted IVF / PQ models (centroids or codebooks + the call's
    * parameters), one [[FitPins]] registry per index type, keyed by
    * (dataset, every fit parameter). [[graft.AnnOracles]] reads them after
    * a Verify run to pin the seeded fit as literals in machine-generated
    * DuckDB SQL (the golden-centroid pin): the `*FitFor` lookups select
    * the fit of the dataset it verified, and `sole` serves context-free
    * callers.
    */
  final case class IvfFit(
      centers: Array[Array[Double]], numQueries: Int, k: Int, nlist: Int, nprobe: Int)
  final case class IvfAppendFit(
      centers: Array[Array[Double]], splitId: Long,
      numQueries: Int, k: Int, nlist: Int, nprobe: Int)
  final case class PqFit(
      books: Array[Array[Array[Double]]], numQueries: Int, k: Int,
      m: Int, ksub: Int, rerank: Int)
  final case class IvfPqFit(
      centers: Array[Array[Double]], books: Array[Array[Array[Double]]],
      numQueries: Int, k: Int, nlist: Int, nprobe: Int,
      m: Int, ksub: Int, rerank: Int)
  final case class IvfPqAppendFit(
      centers: Array[Array[Double]], books: Array[Array[Array[Double]]],
      splitId: Long, numQueries: Int, k: Int, nlist: Int, nprobe: Int,
      m: Int, ksub: Int, rerank: Int)
  final case class SemFit(centers: Array[Array[Double]], nlist: Int, threshold: Double)
  final case class CaFit(centers: Array[Array[Double]], nlist: Int)

  private[graft] val ivfPins = new FitPins[(Int, Int, Int, Int, Long), IvfFit]
  private[graft] val ivfAppendPins =
    new FitPins[(Long, Int, Int, Int, Int, Long), IvfAppendFit]
  private[graft] val pqPins = new FitPins[(Int, Int, Int, Int, Int, Long), PqFit]
  private[graft] val ivfPqPins =
    new FitPins[(Int, Int, Int, Int, Int, Int, Int, Long), IvfPqFit]
  private[graft] val ivfPqAppendPins =
    new FitPins[(Long, Int, Int, Int, Int, Int, Int, Int, Long), IvfPqAppendFit]
  private[graft] val semPins = new FitPins[(Int, Double, Long), SemFit]
  private[graft] val caPins = new FitPins[(Int, Long), CaFit]

  private[graft] def ivfFitFor(
      embeddings: DataFrame,
      numQueries: Int = 8, k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 42L): Option[IvfFit] =
    ivfPins.get(embeddings, (numQueries, k, nlist, nprobe, seed))

  private[graft] def ivfAppendFitFor(
      embeddings: DataFrame,
      splitId: Long = 250L, numQueries: Int = 8, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L): Option[IvfAppendFit] =
    ivfAppendPins.get(embeddings, (splitId, numQueries, k, nlist, nprobe, seed))

  private[graft] def pqFitFor(
      embeddings: DataFrame,
      numQueries: Int = 8, k: Int = 5, m: Int = 16, ksub: Int = 16,
      rerank: Int = 4, seed: Long = 42L): Option[PqFit] =
    pqPins.get(embeddings, (numQueries, k, m, ksub, rerank, seed))

  private[graft] def ivfPqFitFor(
      embeddings: DataFrame,
      numQueries: Int = 8, k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 16, ksub: Int = 16, rerank: Int = 4,
      seed: Long = 42L): Option[IvfPqFit] =
    ivfPqPins.get(embeddings, (numQueries, k, nlist, nprobe, m, ksub, rerank, seed))

  private[graft] def ivfPqAppendFitFor(
      embeddings: DataFrame,
      splitId: Long = 250L, numQueries: Int = 8, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 16, ksub: Int = 16,
      rerank: Int = 4, seed: Long = 42L): Option[IvfPqAppendFit] =
    ivfPqAppendPins.get(embeddings,
      (splitId, numQueries, k, nlist, nprobe, m, ksub, rerank, seed))

  private[graft] def semFitFor(
      embeddings: DataFrame, nlist: Int = 16, threshold: Double = 0.4,
      seed: Long = 42L): Option[SemFit] =
    semPins.get(embeddings, (nlist, threshold, seed))

  private[graft] def caFitFor(
      embeddings: DataFrame, nlist: Int = 16, seed: Long = 42L): Option[CaFit] =
    caPins.get(embeddings, (nlist, seed))

  // ---- index persistence (the build-once/query-many regime ANN indexes
  // exist for): IVF centroids and PQ codebooks as a plain parquet model
  // table (kind, subspace, code, center), written/read via the Hadoop
  // FileSystem API so the path may be local, HDFS or S3A. The model is
  // exact doubles (parquet round-trips IEEE754 bit-exactly), so a loaded
  // index reproduces the session-fit results identically — spec-pinned in
  // AnnPersistenceSpec. Parameter consistency (nlist/m/ksub/seed of the
  // index vs the query call) is the caller's contract, as with any
  // externally-built ANN index; structural mismatches (missing kind,
  // wrong subspace count) fail loudly on load. ----

  private def indexModelExists(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private[graft] def saveIndexModel(
      spark: org.apache.spark.sql.SparkSession, path: String,
      centers: Option[Array[Array[Double]]],
      books: Option[Array[Array[Array[Double]]]]): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows =
      centers.toSeq.flatMap(cs => cs.zipWithIndex.map { case (c, i) =>
        Row("ivf", 0, i, c.toSeq)
      }) ++
        books.toSeq.flatMap(bs => for {
          (sub, j) <- bs.zipWithIndex.toSeq
          (c, i) <- sub.zipWithIndex.toSeq
        } yield Row("pq", j, i, c.toSeq))
    val schema = StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("subspace", IntegerType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("center", ArrayType(DoubleType, containsNull = false), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
  }

  private[graft] def loadIndexModel(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : (Option[Array[Array[Double]]], Option[Array[Array[Array[Double]]]]) = {
    val rows = spark.read.parquet(path)
      .select(col("kind"), col("subspace"), col("code"), col("center"))
      .collect()
    val ivf = rows.filter(_.getString(0) == "ivf")
    val centers =
      if (ivf.isEmpty) None
      else Some(ivf.sortBy(_.getInt(2)).map(_.getSeq[Double](3).toArray))
    val pq = rows.filter(_.getString(0) == "pq")
    val books =
      if (pq.isEmpty) None
      else {
        val bySub = pq.groupBy(_.getInt(1))
        val subs = bySub.keys.toSeq.sorted
        require(subs == (0 until subs.length),
          s"index model at $path has non-contiguous PQ subspaces: $subs")
        Some(subs.map(j =>
          bySub(j).sortBy(_.getInt(2)).map(_.getSeq[Double](3).toArray)).toArray)
      }
    (centers, books)
  }

  /** Resolve the quantizer model for a query: load it from `indexPath`
    * when one was built there before (the query-many side), otherwise fit
    * through the session caches exactly as the path-less call does, and —
    * if `indexPath` is set — persist the fit for later sessions (the
    * build-once side). `needCenters`/`needBooks` name the parts this
    * query requires; a loaded model missing a required part fails loudly.
    */
  private def withIndexModel(
      embeddings: DataFrame, embDouble: DataFrame, indexPath: Option[String],
      needCenters: Option[(Int, Long)], needBooks: Option[(Int, Int, Long)])
      : (Option[Array[Array[Double]]], Option[Array[Array[Array[Double]]]]) = {
    val spark = embeddings.sparkSession
    indexPath match {
      case Some(p) if indexModelExists(spark, p) =>
        val (centers, books) = loadIndexModel(spark, p)
        require(needCenters.isEmpty || centers.isDefined,
          s"index model at $p has no IVF centroids (built by a PQ-only call?)")
        require(needBooks.isEmpty || books.isDefined,
          s"index model at $p has no PQ codebooks (built by an IVF-only call?)")
        (centers.filter(_ => needCenters.isDefined),
          books.filter(_ => needBooks.isDefined))
      case _ =>
        val centers = needCenters.map { case (nlist, seed) =>
          quantizerCache.getOrFit(embeddings, (nlist, seed))(
            fitCoarseQuantizer(embDouble, nlist, seed))
        }
        val books = needBooks.map { case (m, ksub, seed) =>
          pqCache.getOrFit(embeddings, (m, ksub, seed))(
            fitPqCodebooks(embDouble, m, ksub, seed))
        }
        indexPath.foreach(p => saveIndexModel(spark, p, centers, books))
        (centers, books)
    }
  }

  /** Fit the IVF coarse quantizer: seeded k-means++ init + Lloyd iterations
    * over a bounded sample collected to the driver.
    *
    * A coarse quantizer is a statistic of the distribution, not of every
    * row — FAISS-style, it trains on a capped sample (`maxFitRows`, default
    * 20k vectors ≈ 10 MB at dim 64), so the fit cost is O(sample·k·dim)
    * driver-side flops regardless of corpus size. At 100 TB the alternative
    * (a distributed KMeans fit over the full corpus) is a multi-pass ML job
    * over all data before the first query; this is one bounded sample scan.
    */
  private def fitCoarseQuantizer(
      embDouble: DataFrame,
      k: Int,
      seed: Long,
      maxFitRows: Int = 20000,
      iters: Int = 5): Array[Array[Double]] =
    localKMeans(sampleVectors(embDouble, maxFitRows, seed), k, seed, iters)

  /** One bounded, seeded sample scan collecting `maxFitRows` vectors to the
    * driver — the training set for every quantizer here (IVF coarse, PQ
    * subspace codebooks). ONE action over the corpus: each row gets a
    * deterministic pseudo-random priority (splitmix64 of vec_id ⊕ a
    * seed-derived constant — a bijection, so no ties) and the global
    * bottom-`maxFitRows` by priority is the sample. The plan is
    * TakeOrderedAndProject: per-partition heaps of `maxFitRows` rows + one
    * driver merge — no count() pre-pass (the previous count+sample shape
    * cost two corpus scans per cold fit), uniform regardless of corpus
    * size, and stable under repartitioning (the priority depends only on
    * vec_id and seed, never on physical layout). Corpora smaller than
    * `maxFitRows` pass through whole, same as before.
    */
  private def sampleVectors(
      embDouble: DataFrame, maxFitRows: Int, seed: Long): Array[Array[Double]] = {
    val pri = graft.functions.GraftColumns.mix64(
      col("vec_id").bitwiseXOR(lit(graft.functions.Mix64.mix(seed))))
    embDouble
      .select(col("embedding"), pri.as("pri"))
      .orderBy(col("pri"))
      .limit(maxFitRows)
      .select(col("embedding"))
      .collect().map(_.getSeq[Double](0).toArray)
  }

  /** Seeded k-means++ init + Lloyd iterations over driver-local points. */
  private def localKMeans(
      points: Array[Array[Double]],
      k: Int,
      seed: Long,
      iters: Int = 5): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot fit a quantizer on an empty corpus")
    val dim = points.head.length
    val rng = new scala.util.Random(seed)
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ init: each next center drawn proportional to D^2
    val centers = scala.collection.mutable.ArrayBuffer(points(rng.nextInt(points.length)))
    val minD2 = points.map(dist2(_, centers.head))
    while (centers.length < math.min(k, points.length)) {
      val total = minD2.sum
      var r = rng.nextDouble() * total
      var idx = 0
      while (idx < points.length - 1 && r > minD2(idx)) { r -= minD2(idx); idx += 1 }
      val c = points(idx)
      centers += c
      var i = 0
      while (i < points.length) {
        val d = dist2(points(i), c)
        if (d < minD2(i)) minD2(i) = d
        i += 1
      }
    }
    // Lloyd iterations; empty clusters keep their previous center
    var cs = centers.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      var i = 0
      while (i < points.length) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue; var j = 0
        while (j < cs.length) {
          val d = dist2(p, cs(j)); if (d < bestD) { bestD = d; best = j }; j += 1
        }
        val s = sums(best); var d0 = 0
        while (d0 < dim) { s(d0) += p(d0); d0 += 1 }
        counts(best) += 1
        i += 1
      }
      cs = cs.indices.map { j =>
        if (counts(j) == 0) cs(j)
        else sums(j).map(_ / counts(j))
      }.toArray
      it += 1
    }
    cs
  }

  /** Deterministic pseudo-random hyperplanes: weight(p, d) is the
    * splitmix64 avalanche ([[graft.functions.Mix64]] — the single source
    * of truth for the mix, shared with the MinHash permutation family and
    * both DuckDB oracle emulations) of (p * dim + d), mapped into [-1, 1).
    */
  private def planeWeight(p: Int, d: Int, dim: Int): Double = {
    val z = graft.functions.Mix64.mix(p.toLong * dim + d)
    (z >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  /** Sign-pattern LSH bucket id for a vector column (bit p = sign of the
    * dot product with hyperplane planeOffset+p). `planeOffset` selects a
    * disjoint plane set per hash table in multi-table LSH.
    */
  def lshBucket(vec: Column, numPlanes: Int = 8, dim: Int = 64, planeOffset: Int = 0): Column = {
    val vd = vec.cast("array<double>")
    val bits = (0 until numPlanes).map { p =>
      val plane = array((0 until dim).map(d => lit(planeWeight(planeOffset + p, d, dim))): _*)
      when(dot(vd, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k via multi-table, multi-probe LSH: `numTables`
    * independent sign-pattern hash tables of `planesPerTable` hyperplanes
    * each; a corpus vector is a candidate for a query if they collide in
    * ANY table (per-table match probability p becomes 1-(1-p)^L).
    *
    * With `multiProbe = true` (Lv et al., VLDB'07) each QUERY additionally
    * probes every Hamming-distance-1 bucket in every table — the vectors
    * most likely to be near-misses of the sign pattern. The recall
    * amplification is paid entirely on the broadcast query side (L·(1+P)
    * probe rows per query); the corpus index stays exactly L rows per
    * vector, so index size and the candidate equi-join key
    * (table, bucket) are unchanged at scale. Only candidates are scored.
    * Recall vs [[bruteForceTopK]] is asserted in DedupSimilaritySpec.
    */
  def lshBucketedTopK(
      embeddings: DataFrame,
      numQueries: Int = 8,
      k: Int = 5,
      numTables: Int = 8,
      planesPerTable: Int = 6,
      multiProbe: Boolean = true): DataFrame = {
    val dim = 64
    // pre-cast once per row: the bucketer and the scoring cosine otherwise
    // each re-cast the float array
    val embDouble = embeddings.select(
      col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // All tables' buckets in ONE native-expression pass
    // ([[graft.functions.LshBuckets]] — the per-table compositional form
    // was a multi-thousand-node literal tree past codegen method limits).
    // Per-table plane sets are disjoint: global plane index = t*P+p.
    val flatPlanes = Array.tabulate(numTables * planesPerTable * dim) { idx =>
      planeWeight(idx / dim, idx % dim, dim)
    }
    val bucketsOf = graft.functions.GraftColumns.lshBuckets(
      col("embedding"), flatPlanes, numTables, planesPerTable, dim)
    // Candidate generation carries ONLY (vec_id, bucket) — never the
    // vectors: the collision join and the dedup shuffle move 16-byte rows,
    // not 512-byte arrays. Vectors re-attach to the (small) deduped
    // candidate set afterwards, where AQE broadcasts the candidates and
    // the corpus side stays shuffle-free.
    val corpusKeys = embDouble
      .select(col("vec_id"), posexplode(bucketsOf))
      .select(col("vec_id"),
        struct(col("pos").as("tab"), col("col").as("bucket")).as("tb"))
    // Query probes: base bucket per table from the same bucketer, then
    // (optionally) each single-bit flip — plain XOR off the base, so the
    // hyperplane dot products are NOT recomputed per probe.
    val qBase = embDouble
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), bucketsOf.as("bks"))
    val probeStructs = (0 until numTables).flatMap { t =>
      val base = element_at(col("bks"), t + 1)
      val buckets =
        if (multiProbe)
          base +: (0 until planesPerTable).map(p => base.bitwiseXOR(lit(1L << p)))
        else Seq(base)
      buckets.map(b => struct(lit(t).as("tab"), b.as("bucket")))
    }
    val probes = qBase.select(
      col("query_id"), explode(array(probeStructs: _*)).as("tb"))
    val candidates = corpusKeys
      .join(broadcast(probes), Seq("tb"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val qVecs = embDouble
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = candidates
      .join(embDouble, "vec_id")
      .join(broadcast(qVecs), "query_id")
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKBySim(scored, k)
  }

  /** IVF (inverted-file) approximate top-k: a coarse quantizer partitions
    * the corpus into `nlist` cells; each query probes only its `nprobe`
    * nearest cells. The classic ANN index structure: candidate count drops
    * from |corpus| to ~|corpus| * nprobe / nlist, and the cell assignment
    * is a plain equi-join key — hash-partitionable at any scale.
    *
    * The quantizer is [[fitCoarseQuantizer]] (seeded k-means on a bounded
    * sample); cell assignment inlines the centroids as literal arrays and
    * uses argmin_c ||x-c||² == argmax_c (x·c − ½|c|²) — one native codegen
    * dot product per centroid, no ML pipeline, no extra pass.
    */
  def ivfTopK(
      embeddings: DataFrame,
      numQueries: Int = 8,
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      indexPath: Option[String] = None): DataFrame = {
    val embDouble = nonNullVectors(embeddings)
    val centers: Array[Array[Double]] = withIndexModel(
      embeddings, embDouble, indexPath,
      needCenters = Some((nlist, seed)), needBooks = None)._1.get
    ivfPins.record(embeddings, (numQueries, k, nlist, nprobe, seed),
      IvfFit(centers, numQueries, k, nlist, nprobe))
    ivfPipeline(embDouble, centers, col("vec_id") < numQueries, k, nprobe)
  }

  /** Incremental IVF index maintenance — the FAISS `add` contract
    * composed with a probe: the coarse quantizer is fit on (or loaded
    * for) the STANDING corpus only (`vec_id < splitId`, the
    * incremental-dedup convention) and never retrained by arrivals;
    * appending a batch is a pure MAP (each arrival's nearest pinned
    * centroid — the posting-list delta a production index writes), and
    * the arrival queries (`numQueries` lowest arrival ids) then probe
    * `nprobe` cells of the GROWN index (corpus ∪ arrivals), ranked by
    * exact cosine with a deterministic tie-break.
    *
    * This closes the build-once/query-many loop's third side: build
    * ([[ivfTopK]] with `indexPath`), reload ([[loadIndexModel]]), and now
    * APPEND — at 100 TB a standing index absorbs an arrival batch with
    * one map-only assignment pass instead of a re-fit. Centroid ADVANCE
    * stays a separate, deliberate step: [[KMeans.incrementalUpdate]] is
    * the exact sufficient-statistics merge for that; composing the two
    * (append to postings now, re-center + re-assign on a cadence) is the
    * standard maintenance schedule. Scale: assignment is map-only over
    * arrivals; the probe join is cell-keyed (the broadcast-probe shape of
    * [[ivfTopK]]), never query×corpus.
    */
  def ivfAppendTopK(
      embeddings: DataFrame,
      splitId: Long = 250L,
      numQueries: Int = 8,
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      indexPath: Option[String] = None): DataFrame = {
    val embDouble = nonNullVectors(embeddings)
    val corpus = embeddings.filter(col("vec_id") < splitId)
    val corpusD = embDouble.filter(col("vec_id") < splitId)
    // model from the corpus ONLY — arrivals must not move the quantizer
    val centers: Array[Array[Double]] = withIndexModel(
      corpus, corpusD, indexPath,
      needCenters = Some((nlist, seed)), needBooks = None)._1.get
    ivfAppendPins.record(embeddings, (splitId, numQueries, k, nlist, nprobe, seed),
      IvfAppendFit(centers, splitId, numQueries, k, nlist, nprobe))
    // the grown index: standing corpus AND the arrival delta, one
    // map-only nearest-centroid pass each (the same PqEncode primitive)
    ivfPipeline(embDouble, centers,
      col("vec_id") >= splitId && col("vec_id") < splitId + numQueries, k, nprobe)
  }

  /** The shared IVF probe pipeline over an already-resolved quantizer:
    * corpus cell assignment, `nprobe` cell probing per query
    * ([[probeCells]]), exact cosine within the probed cells, top-k per
    * query. `isQuery` selects the query rows (the standalone index
    * queries with the numQueries lowest ids; the append form with an
    * arrival range).
    */
  private def ivfPipeline(
      embDouble: DataFrame,
      centers: Array[Array[Double]],
      isQuery: Column,
      k: Int, nprobe: Int): DataFrame = {
    val assigned = embDouble.select(col("vec_id"), col("embedding"), nearestCell(centers))
    val queries = probeCells(embDouble.filter(isQuery), centers, nprobe,
      "qe" -> col("embedding"))
    val scored = assigned
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("sim"))
    topKBySim(scored, k)
  }

  /** The vectors as (vec_id, embedding: array<double>), without those
    * holding a null element (dot(x,x) is null iff an element is null):
    * PqEncode would null their cell (silently dropped corpus-side) while
    * an all-null probe ranking would still probe cells by index, so
    * excluding them from index and query set up front keeps engine and
    * pinned oracle trivially aligned (the oracle mirrors this in `e`).
    */
  private def nonNullVectors(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .filter(dot(col("embedding"), col("embedding")).isNotNull)

  /** Nearest IVF cell of `embedding`, as column `cell`: [[graft.functions.PqEncode]]
    * with a single subspace spanning the whole vector — nearest-centroid
    * in one native loop (codebook as a codegen reference object, not a
    * literal tree).
    */
  private def nearestCell(centers: Array[Array[Double]]): Column =
    element_at(
      graft.functions.GraftColumns.pqEncode(col("embedding"), Array(centers)), 1)
      .as("cell")

  /** Each query row's `nprobe` nearest cells, as (query_id, the `carry`
    * columns, cell). Scores come from the same one-pass LUT primitive as
    * PQ ([[graft.functions.PqLut]], single subspace spanning the vector):
    * score(cell) = lut[cell] − ½|c|², larger = nearer, ties to the lower
    * cell — identical arithmetic to the per-centroid literal-array struct
    * chain it replaced (a ~1000-node expression tree re-janino'd per plan
    * build), so the pinned oracle is unchanged.
    */
  private def probeCells(
      queryRows: DataFrame, centers: Array[Array[Double]], nprobe: Int,
      carry: (String, Column)*): DataFrame = {
    val hnLit = array(
      centers.map(c => lit(c.map(x => x * x).sum / 2.0)).toIndexedSeq: _*)
    val kept = carry.map { case (name, _) => col(name) }
    queryRows
      .select((col("vec_id").as("query_id") +: carry.map { case (n, c) => c.as(n) }) :+
        posexplode(graft.functions.GraftColumns.pqLut(col("embedding"), Array(centers))): _*)
      .select((col("query_id") +: kept) ++ Seq(col("pos").as("cell"),
        (col("col") - element_at(hnLit, col("pos") + 1)).as("score")): _*)
      .withColumn("probe_rank",
        row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("cell"))))
      .filter(col("probe_rank") <= nprobe)
      .select((col("query_id") +: kept) :+ col("cell"): _*)
  }

  /** PQ codebook cache (same rationale as [[quantizerCache]]): m subspace
    * codebooks, each ksub x dsub.
    */
  private val pqCache = new FitMemo[(Int, Int, Long), Array[Array[Array[Double]]]](16)

  /** Train product-quantization codebooks (Jégou, Douze, Schmid: "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * dim-d space into `m` subspaces of d/m dims; per subspace, a seeded
    * k-means of `ksub` centroids over ONE bounded sample (collected once,
    * sliced per subspace — not m sample scans).
    */
  private def fitPqCodebooks(
      embDouble: DataFrame,
      m: Int,
      ksub: Int,
      seed: Long,
      maxFitRows: Int = 20000): Array[Array[Array[Double]]] = {
    val points = sampleVectors(embDouble, maxFitRows, seed)
    val dim = points.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = points.map(p => java.util.Arrays.copyOfRange(p, j * dsub, (j + 1) * dsub))
      localKMeans(sub, ksub, seed + j)
    }
  }

  /** PQ-compressed approximate top-k with asymmetric distance computation
    * (ADC). The 100 TB memory path: the corpus scan carries `m` small int
    * codes (+ one precomputed norm) per vector — at the default m=16, that
    * is 16 codes for a 64-float vector, a 16x shrink of scan volume
    * (m=8 would be 32x at more distortion) — while queries
    * stay full-precision:
    *
    *   - ENCODE (corpus side, once): per subspace, assign the nearest
    *     codebook centroid via the same literal-centroid argmax trick as
    *     IVF — row-local codegen'd dot products, no shuffle. The
    *     reconstructed norm |x̂|² = Σ_j |c_{j,code_j}|² is a code-indexed
    *     lookup, precomputed per row.
    *   - SEARCH: each query precomputes a lookup table ipLut[j*ksub+c] =
    *     q_j · c_{j,c} (m*ksub dot products, query-side only, broadcast).
    *     Per (query, corpus-row) pair the approximate cosine is
    *     (Σ_j ipLut[code_j]) / (|q| * |x̂|) — m element_at + adds, no
    *     vector arithmetic on the scan path.
    *
    * The ADC scan retrieves a `k * rerank` SHORTLIST per query; the final
    * top-k comes from an exact-cosine re-rank of the shortlist against the
    * raw vectors (the "+R" refinement of Jégou et al. — production PQ
    * systems re-rank a shortlist because the compressed scan is for
    * RECALL, not final ordering). Raw vectors are touched only for
    * numQueries * k * rerank rows; the corpus-wide scan stays on codes.
    * `sim` is the exact cosine, `sim_pq` the ADC estimate (in-row
    * self-check).
    */
  def pqTopK(
      embeddings: DataFrame,
      numQueries: Int = 8,
      k: Int = 5,
      m: Int = 16,
      ksub: Int = 16,
      rerank: Int = 4,
      seed: Long = 42L,
      indexPath: Option[String] = None): DataFrame = {
    val embDouble = nonNullVectors(embeddings)
    val books: Array[Array[Array[Double]]] = withIndexModel(
      embeddings, embDouble, indexPath,
      needCenters = None, needBooks = Some((m, ksub, seed)))._2.get
    pqPins.record(embeddings, (numQueries, k, m, ksub, rerank, seed),
      PqFit(books, numQueries, k, m, ksub, rerank))
    // per-row encode: ONE native-expression pass assigns all m codes
    // ([[graft.functions.PqEncode]] — the compositional m·ksub slice()+dot
    // plan allocated a subarray per centroid per row)
    val corpus = withNorm(embDouble.select(
      col("vec_id"),
      graft.functions.GraftColumns.pqEncode(col("embedding"), books).as("codes")), books, m)

    // the whole m·ksub inner-product LUT in one native pass
    // ([[graft.functions.PqLut]] — the compositional form was ~3000
    // expression nodes of slice()+literal-array dots, paying janino
    // compile time on every plan build)
    val isQuery = col("vec_id") < numQueries
    val queries = embDouble
      .filter(isQuery)
      .select(
        col("vec_id").as("query_id"),
        graft.functions.GraftColumns.pqLut(col("embedding"), books).as("ip_lut"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nq"))
    adcTopK(corpus.join(broadcast(queries), col("vec_id") =!= col("query_id")),
      embDouble, isQuery, k, rerank)
  }

  /** `codes` plus its reconstructed norm `nx` = sqrt(Σ_j |c_{j,code_j}|²):
    * a code-indexed lookup summed in ONE native loop
    * ([[graft.functions.CodeLookupSum]] over a constant-folded literal
    * table — arithmetic order identical to the per-subspace element_at
    * chain it replaced, so the pinned oracle is unchanged).
    */
  private def withNorm(
      withCodes: DataFrame, books: Array[Array[Array[Double]]], m: Int): DataFrame = {
    val n2Lit = array((for (j <- 0 until m; c <- books(j))
      yield lit(c.map(x => x * x).sum)).toIndexedSeq: _*)
    withCodes.withColumn("nx",
      sqrt(graft.functions.GraftColumns.codeLookupSum(col("codes"), n2Lit)))
  }

  /** ADC top-k over candidate (corpus row, query) pairs carrying `codes`,
    * `nx`, `ip_lut` and `nq`: the approximate cosine `sim_pq` =
    * (Σ_j ip_lut[code_j]) / (nq·nx) ranks a k·rerank shortlist per query,
    * then an exact-cosine re-rank of that shortlist gives the top-k — raw
    * vectors are touched only for those rows. `isQuery` selects the query
    * rows of `embDouble`.
    */
  private def adcTopK(
      pairs: DataFrame, embDouble: DataFrame, isQuery: Column,
      k: Int, rerank: Int): DataFrame = {
    val adcIp =
      graft.functions.GraftColumns.codeLookupSum(col("codes"), col("ip_lut"))
    val scored = pairs
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (adcIp / (col("nq") * col("nx"))).as("sim_pq"))
    val wPq = Window.partitionBy(col("query_id")).orderBy(desc("sim_pq"), asc("neighbor_id"))
    val shortlist = scored
      .withColumn("pq_rnk", row_number().over(wPq))
      .filter(col("pq_rnk") <= k * rerank)
    // exact-cosine re-rank of the shortlist (raw vectors touched only here)
    val qVecs = embDouble
      .filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val nVecs = embDouble.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val wExact = Window.partitionBy(col("query_id")).orderBy(desc("sim"), asc("neighbor_id"))
    shortlist
      .join(broadcast(qVecs), "query_id")
      .join(nVecs, "neighbor_id")
      .withColumn("sim", cosine(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("sim_pq"), col("sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** IVF-PQ composed index — the production at-scale ANN shape (Jégou et
    * al. TPAMI 2011 §V; what FAISS `IVFx,PQy` with `by_residual=false`
    * computes): the coarse quantizer restricts each query to `nprobe` of
    * `nlist` cells, and WITHIN the probed cells scoring runs on
    * PQ codes via the query-side ADC lookup table, never on raw vectors;
    * only the final k·rerank shortlist touches full-precision embeddings.
    *
    * Why this matters at 100 TB when IVF and PQ individually already work:
    * IVF alone still drags full vectors through the candidate scan
    * (bandwidth-bound), PQ alone still scans EVERY corpus code for every
    * query (compute-bound). Composed, the scan volume is
    * (nprobe/nlist) x (1/16th-size codes) — both cuts multiply. Raw
    * vectors are encoded once (cell + m codes + reconstructed norm, all
    * row-local native expressions, no shuffle); the candidate join ships
    * only codes for vectors in probed cells; the ADC score is m int
    * lookups + adds per pair.
    *
    * PQ codebooks are trained on raw vectors (not residuals) so the fit
    * and every downstream stage stay reproducible by the pinned oracle
    * ([[graft.AnnOracles.ivfPqSql]]) with the same arithmetic contracts as
    * ann_ivf + ann_pq.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      numQueries: Int = 8,
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 16,
      ksub: Int = 16,
      rerank: Int = 4,
      seed: Long = 42L,
      indexPath: Option[String] = None): DataFrame = {
    val embDouble = nonNullVectors(embeddings)
    // both fits reuse the plan-keyed caches their standalone queries use —
    // an ivfTopK/pqTopK call on the same dataset and params shares them;
    // with indexPath, one model file carries BOTH parts
    val (centersOpt, booksOpt) = withIndexModel(
      embeddings, embDouble, indexPath,
      needCenters = Some((nlist, seed)), needBooks = Some((m, ksub, seed)))
    val centers: Array[Array[Double]] = centersOpt.get
    val books: Array[Array[Array[Double]]] = booksOpt.get
    ivfPqPins.record(embeddings, (numQueries, k, nlist, nprobe, m, ksub, rerank, seed),
      IvfPqFit(centers, books, numQueries, k, nlist, nprobe, m, ksub, rerank))
    ivfPqPipeline(embDouble, centers, books,
      col("vec_id") < numQueries, k, nprobe, m, rerank)
  }

  /** [[ivfPqTopK]] under the FAISS `add` maintenance contract — the
    * composed-index twin of [[ivfAppendTopK]]: coarse centroids AND PQ
    * codebooks are fit on (or loaded for) the standing corpus only
    * (`vec_id < splitId`) and never retrained by arrivals; appending a
    * batch is one row-local pass (cell + m codes — the posting/code
    * delta), and the arrival queries ADC-probe the GROWN index with exact
    * re-rank. Same scale shape as [[ivfPqTopK]]: codes ship, embeddings
    * are touched only for the k·rerank shortlist.
    */
  def ivfPqAppendTopK(
      embeddings: DataFrame,
      splitId: Long = 250L,
      numQueries: Int = 8,
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 16,
      ksub: Int = 16,
      rerank: Int = 4,
      seed: Long = 42L,
      indexPath: Option[String] = None): DataFrame = {
    val embDouble = nonNullVectors(embeddings)
    val corpus = embeddings.filter(col("vec_id") < splitId)
    val corpusD = embDouble.filter(col("vec_id") < splitId)
    val (centersOpt, booksOpt) = withIndexModel(
      corpus, corpusD, indexPath,
      needCenters = Some((nlist, seed)), needBooks = Some((m, ksub, seed)))
    val centers = centersOpt.get
    val books = booksOpt.get
    ivfPqAppendPins.record(embeddings,
      (splitId, numQueries, k, nlist, nprobe, m, ksub, rerank, seed),
      IvfPqAppendFit(centers, books, splitId, numQueries, k,
        nlist, nprobe, m, ksub, rerank))
    ivfPqPipeline(embDouble, centers, books,
      col("vec_id") >= splitId && col("vec_id") < splitId + numQueries,
      k, nprobe, m, rerank)
  }

  /** The shared IVF+PQ probe pipeline over an already-resolved model:
    * corpus encode (cell + codes + reconstructed norm), nprobe cell
    * probing, ADC scoring within probed cells, exact re-rank of the
    * k·rerank shortlist. `isQuery` selects the query rows (the standalone
    * index queries with the numQueries lowest ids; the append form with
    * an arrival range).
    */
  private def ivfPqPipeline(
      embDouble: DataFrame,
      centers: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      isQuery: Column,
      k: Int, nprobe: Int, m: Int, rerank: Int): DataFrame = {
    // corpus encode: cell + m codes + reconstructed norm, one row-local pass
    val corpus = withNorm(embDouble.select(
      col("vec_id"),
      nearestCell(centers),
      graft.functions.GraftColumns.pqEncode(col("embedding"), books).as("codes")), books, m)

    // query side: nprobe probed cells (same scoring as ivfTopK) x the ADC
    // inner-product LUT + query norm (same as pqTopK), broadcast together
    val queries = probeCells(embDouble.filter(isQuery), centers, nprobe,
      "ip_lut" -> graft.functions.GraftColumns.pqLut(col("embedding"), books),
      "nq" -> sqrt(dot(col("embedding"), col("embedding"))))

    // ADC scoring restricted to probed cells: the scan ships codes, never
    // embeddings; each (query, corpus-row) pair costs m lookups + adds
    adcTopK(
      corpus.join(broadcast(queries), Seq("cell")).filter(col("vec_id") =!= col("query_id")),
      embDouble, isQuery, k, rerank)
  }

  /** Per-label embedding statistics (count + mean L2 norm — all derived
    * from per-row double folds, deterministic).
    */
  def labelStats(embeddings: DataFrame): DataFrame = {
    val vd = col("embedding").cast("array<double>")  // once per row (no pair join here)
    val norm = sqrt(dot(vd, vd))
    embeddings
      .select(col("label"), norm.as("norm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("vec_count"),
        (sum(col("norm").cast("decimal(18,12)")).cast("double") / count(lit(1)))
          .as("avg_norm"))
      .orderBy(col("label"))
  }

  /** Per-dimension corpus statistics — the normalization/whitening audit a
    * vector pipeline runs before indexing (detects dead dimensions, scale
    * imbalance, outlier dims that dominate the metric). posexplode fans the
    * corpus to (dim, value) rows — 64 accumulators per partition after
    * map-side combine, so the shuffle carries partitions x dims rows, not
    * the corpus. Sums are EXACT fixed-point int64: each per-row double
    * (identical cross-engine) rounds once to DECIMAL(16,15) and is scaled
    * to a scale-15 integer, so the aggregate never touches a decimal →
    * double cast (DuckDB converts big decimals through a multiply-by-1e-15
    * that is 1 ulp off Java's correctly-rounded BigDecimal.doubleValue —
    * measured on this very query). Mean and variance then derive from the
    * exact integers in straight-line, correctly-rounded double math.
    */
  def dimStats(embeddings: DataFrame): DataFrame = {
    val fp = (c: Column) =>
      (c.cast(org.apache.spark.sql.types.DecimalType(16, 15))
        * lit(1000000000000000L)).cast("long")
    embeddings
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .select(col("dim"), col("x"),
        fp(col("x")).as("x_fp"), fp(col("x") * col("x")).as("xx_fp"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        min(col("x")).as("min_x"),
        max(col("x")).as("max_x"),
        sum(col("x_fp")).as("sum_fp"),
        sum(col("xx_fp")).as("ssq_fp"))
      .withColumn("sx", col("sum_fp").cast("double") / lit(1.0e15))
      .withColumn("sxx", col("ssq_fp").cast("double") / lit(1.0e15))
      .withColumn("mean_x", col("sx") / col("n"))
      .withColumn("var_x",
        (col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
      .select(
        col("dim"), col("n"), col("min_x"), col("max_x"),
        col("mean_x"), col("var_x"))
      .orderBy(col("dim"))
  }

  /** Exact k-NN graph over the corpus — the neighbor structure graph-based
    * ANN (HNSW, NN-Descent) and graph dedup start from: every vector's
    * top-`k` cosine neighbors, plus the `mutual` flag (is the reverse edge
    * also a top-`k` edge?) that symmetrization uses. The corpus side
    * streams partition-parallel against a broadcast of the (id, vector)
    * pairs — right while the vector set fits a broadcast (an index-build
    * primitive over a bounded corpus, same envelope as [[bruteForceTopK]]);
    * at corpus scales past that, candidates come from the banded/bucketed
    * paths ([[lshTopK]]/[[ivfTopK]]) and this exact graph is the per-bucket
    * finishing step. The whole operator is ONE linear plan — no self-join,
    * no union of a shared subplan (either would re-execute the quadratic
    * scoring scan: Spark does not reuse common subplans below an
    * exchange): both edge directions explode out of a single scored row,
    * and the mutual flag is a count-2 window over the unordered pair key
    * of the already-filtered |V| x k edge list.
    */
  def knnGraph(embeddings: DataFrame, k: Int = 3): DataFrame = {
    import graft.functions.GraftColumns.dotProduct
    // cosine(a,b) is symmetric and its norms are per-ROW quantities:
    // precompute 1/sqrt(<e,e>) once per vector and score each UNORDERED
    // pair once (vec_id < nid) — 6x less float work than naive
    // per-ordered-pair cosine (measured 5.1 s -> ~1 s at 2k vectors x 64
    // dims). sim = (<a,b> * inv_a) * inv_b, left-assoc — the exact op
    // sequence the oracle replays.
    val emb = embeddings.select(
      col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("inv",
        lit(1.0) / sqrt(dotProduct(col("embedding"), col("embedding"))))
    val rhs = emb.select(
      col("vec_id").as("nid"), col("embedding").as("ne"), col("inv").as("ninv"))
    // The pair scan is a BroadcastNestedLoopJoin whose stream side is the
    // raw vector scan — one parquet split, so the whole |V|²/2 scoring
    // loop ran in ONE task (profiled: 4.9 s single-core task time, 0.8 MB
    // shuffle). Spread the stream side across the cluster first (guide
    // §2.6 idle capacity): the fan-out is scale-adaptive (default
    // parallelism), and the 2-long-per-row frame makes the extra exchange
    // noise next to the quadratic scoring it parallelizes.
    val streamParts = emb.sparkSession.sparkContext.defaultParallelism
    val both = emb.repartition(streamParts)
      .join(broadcast(rhs), col("vec_id") < col("nid"))
      // hoist sim above the explode: spelled inline in both struct
      // branches, the dot product was evaluated TWICE per pair (CSE does
      // not reach across array(struct(...)) elements) — same value, same
      // (dot * inv) * ninv op order, half the float work
      .withColumn("sim",
        dotProduct(col("embedding"), col("ne")) * col("inv") * col("ninv"))
      .select(explode(array(
        struct(col("vec_id"), col("nid").as("neighbor_id"), col("sim")),
        struct(col("nid").as("vec_id"), col("vec_id").as("neighbor_id"),
          col("sim")))).as("e"))
      .select(col("e.vec_id"), col("e.neighbor_id"), col("e.sim"))
    val w = Window.partitionBy(col("vec_id")).orderBy(desc("sim"), asc("neighbor_id"))
    val wPair = Window.partitionBy(
      least(col("vec_id"), col("neighbor_id")),
      greatest(col("vec_id"), col("neighbor_id")))
    both
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      // an edge list has each (src,dst) once, so the unordered pair key
      // holds 2 rows iff BOTH directions survived the top-k filter
      .withColumn("mutual", count(lit(1)).over(wPair) === 2)
      .select(col("vec_id"), col("neighbor_id"), col("sim"), col("rnk"), col("mutual"))
      .orderBy(col("vec_id"), col("rnk"))
  }

  /** Int8 symmetric quantization audit — the embedding-compression step a
    * corpus-scale vector store runs before ANN/storage (8x smaller than
    * float32, 4x smaller than the PQ codes' input): per-vector scale =
    * 127 / max|x|, code = round(x * scale), plus the reconstruction-error
    * audit columns a pipeline gates on. Pure per-row columnar math
    * (codegen'd HOFs, no shuffle, no UDF). Every float here is
    * cross-engine bit-exact: round() is half-away-from-zero in both Spark
    * (HALF_UP BigDecimal) and DuckDB, the integer sums are exact, and the
    * MSE is a left-to-right sequential fold mirrored verbatim by the
    * oracle (the labelStats/ANN fold precedent).
    */
  def quantizeAudit(embeddings: DataFrame): DataFrame = {
    val vd = col("embedding").cast("array<double>")
    embeddings
      .select(col("vec_id"), vd.as("e"))
      .filter(dot(col("e"), col("e")).isNotNull)
      .withColumn("max_abs", array_max(transform(col("e"), x => abs(x))))
      .filter(col("max_abs") > 0)
      .withColumn("scale", lit(127.0) / col("max_abs"))
      .withColumn("codes",
        transform(col("e"), x => round(x * col("scale")).cast("int")))
      .select(
        col("vec_id"), col("max_abs"), col("scale"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c.cast("long"))
          .as("code_sum"),
        aggregate(col("codes"), lit(0L), (a, c) => a + abs(c).cast("long"))
          .as("code_abs_sum"),
        (aggregate(
          zip_with(col("e"), col("codes"),
            (x, c) => (x - c / col("scale")) * (x - c / col("scale"))),
          lit(0.0), (a, b) => a + b) / size(col("e"))).as("mse"))
      .orderBy(col("vec_id"))
  }

  /** Hybrid dedup — the verdict a production pipeline actually acts on:
    * byte-identical duplicates (exact content digest) AND semantic
    * near-duplicates (SemDeDup cell-scoped cosine) in ONE per-document
    * table, joined across the text and embedding modalities on the shared
    * id. keep = no lower-id duplicate under EITHER signal. The exact pass
    * costs one 16-byte-digest window; the semantic pass is
    * [[semanticDedup]] (cell-bounded quadratic); the modality join is a
    * plain equi-join on the id — all hash-partitionable at corpus scale.
    */
  def hybridDedup(
      documents: DataFrame,
      embeddings: DataFrame,
      nlist: Int = 16,
      threshold: Double = 0.4,
      seed: Long = 42L): DataFrame = {
    val keeper = min(col("doc_id"))
      .over(Window.partitionBy(md5(col("text"))))
    val exact = documents
      .select(col("doc_id"),
        when(keeper < col("doc_id"), keeper).as("exact_dup_of"))
    val sem = semanticDedup(embeddings, nlist, threshold, seed)
      .select(col("vec_id").as("doc_id"),
        col("dup_of").as("semantic_dup_of"))
    exact
      .join(sem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup_of"), col("semantic_dup_of"),
        (col("exact_dup_of").isNull && col("semantic_dup_of").isNull).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** K-means cluster audit with label purity — the clustering-quality
    * check a curation pipeline runs when it clusters embeddings (for
    * SemDeDup, curriculum buckets, topic balancing): per cell, the vector
    * count, the majority label, and purity = majority / count. High purity
    * means the quantizer recovered the corpus's planted/semantic structure;
    * uniform purity ≈ 1/|labels| means it didn't. Same bounded-sample
    * quantizer and per-row assignment as IVF; the aggregation is two
    * cardinality-bounded shuffles (|cells x labels|, then |cells|).
    */
  def clusterAudit(
      embeddings: DataFrame,
      nlist: Int = 16,
      seed: Long = 42L): DataFrame = {
    val embDouble = embeddings
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
      .filter(dot(col("embedding"), col("embedding")).isNotNull)
    val centers = quantizerCache.getOrFit(embeddings, (nlist, seed))(
      fitCoarseQuantizer(embDouble.drop("label"), nlist, seed))
    caPins.record(embeddings, (nlist, seed), CaFit(centers, nlist))

    val assigned = embDouble.select(col("vec_id"), col("label"), nearestCell(centers))
    val perCellLabel = assigned.groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val wCell = Window.partitionBy(col("cell"))
    perCellLabel
      .withColumn("rn",
        row_number().over(wCell.orderBy(col("cnt").desc, col("label").asc)))
      .withColumn("vec_count", sum(col("cnt")).over(wCell))
      .filter(col("rn") === 1)
      .select(col("cell"), col("vec_count"),
        col("label").as("majority_label"), col("cnt").as("majority_count"),
        (col("cnt") / col("vec_count")).as("purity"))
      .orderBy(col("cell"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    * by clustering embeddings with a k-means coarse quantizer, then finding
    * cosine near-duplicates ONLY within each cluster and keeping the lowest
    * vec_id of every duplicate group. The cluster restriction is what makes
    * embedding dedup tractable at corpus scale: the quadratic pair search
    * runs per cell (|corpus|²/nlist expected pairs instead of |corpus|²),
    * and each cell is an independent, hash-partitioned join group — at
    * 100 TB you raise nlist so cells stay executor-sized, which changes the
    * constant, not the shape.
    *
    * Per-vector verdict output: the cell, whether a lower-id near-duplicate
    * exists in the same cell (dup_of = lowest such id, NULL = survivor),
    * how many near-duplicates the cell holds for this vector, and the
    * maximum cosine among them. Quantizer and cell assignment are the IVF
    * primitives ([[fitCoarseQuantizer]], PqEncode), so the oracle pins the
    * same centroid literals (graft.AnnOracles.semSql).
    */
  def semanticDedup(
      embeddings: DataFrame,
      nlist: Int = 16,
      threshold: Double = 0.4,
      seed: Long = 42L): DataFrame = {
    val embDouble = nonNullVectors(embeddings)
    val centers = quantizerCache.getOrFit(embeddings, (nlist, seed))(
      fitCoarseQuantizer(embDouble, nlist, seed))
    semPins.record(embeddings, (nlist, threshold, seed), SemFit(centers, nlist, threshold))
    semVerdicts(
      embDouble.select(col("vec_id"), col("embedding"), nearestCell(centers)), threshold)
  }

  /** Shared SemDeDup verdict scan over any cell assignment: within-cell
    * lower-id pairs only (the join condition both bounds the quadratic work
    * to cells and halves it — each unordered pair once), then per-vector
    * keep-lowest-id aggregation and a left join so survivors keep NULL
    * verdict columns.
    */
  private def semVerdicts(assigned: DataFrame, threshold: Double): DataFrame = {
    val dups = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      .select(
        col("a.vec_id").as("vec_id"), col("b.vec_id").as("cand"),
        cosine(col("a.embedding"), col("b.embedding")).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy(col("vec_id"))
      .agg(
        min(col("cand")).as("dup_of"),
        count(lit(1)).as("n_dups"),
        max(col("sim")).as("max_sim"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"), col("n_dups"),
        col("max_sim"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup with fit-free hyperplane-LSH cells: the corpus-scale variant.
    * The k-means quantizer in [[semanticDedup]] is fit on a bounded driver
    * sample, which caps useful nlist at a few hundred; keeping cells
    * executor-sized at a growing corpus needs cell COUNT proportional to
    * corpus size. Sign-pattern buckets over 2^planeBits deterministic
    * hyperplanes (the same Mix64-derived family as the ANN LSH tables) give
    * exactly that: no fit, no driver state, cells = 2^planeBits, assignment
    * is a per-row codegen'd expression. Precision is unchanged (every
    * emitted pair is exact-cosine-verified); only the candidate recall
    * depends on the cell family — asserted in DedupSimilaritySpec.
    */
  def semanticDedupLsh(
      embeddings: DataFrame,
      planeBits: Int = 4,
      threshold: Double = 0.4): DataFrame = {
    val dim = 64
    val embDouble = nonNullVectors(embeddings)
    val flatPlanes = Array.tabulate(planeBits * dim) { idx =>
      planeWeight(idx / dim, idx % dim, dim)
    }
    val assigned = embDouble.select(
      col("vec_id"), col("embedding"),
      element_at(
        graft.functions.GraftColumns.lshBuckets(
          col("embedding"), flatPlanes, 1, planeBits, dim), 1)
        .as("cell"))
    semVerdicts(assigned, threshold)
  }

  /** Nearest-centroid (Rocchio) classifier eval over the labeled
    * embeddings — the cheapest possible "are these labels even linearly
    * separable in this space" probe a vector pipeline runs before
    * training anything: per-label centroids fit on the EVEN vec_ids,
    * every ODD vector assigned to its max-inner-product centroid, and
    * the confusion matrix + per-class recall published (the same eval
    * shape as the langid confusion).
    *
    * Exactness: the [[dimStats]] fixed-point discipline end-to-end —
    * each double rounds once to DECIMAL(16,15) scale-15 longs, centroid
    * components are SIGN-SEPARATED integer DIVs of exact sums (Spark
    * DIV truncates, DuckDB // floors; they agree only on non-negatives,
    * and embedding sums are signed), and scores are exact decimal
    * Σ v_fp·c_fp. Argmax ties break to the smaller label.
    *
    * Scale: one posexplode scan, a |labels|·|dims| broadcast, one keyed
    * aggregate of n·|labels| partial scores (map-side combined), one
    * per-vector top-1 window. Linear with constant |labels|·|dims|.
    */
  def centroidClassifierEval(embeddings: DataFrame): DataFrame = {
    // power-of-two fixed point: x*2^30 is an EXACT double product (pure
    // exponent shift) and floor is exact — a decimal(16,15) rounding can
    // tie-break differently across engines at the last ulp (observed as
    // an off-by-one in the MMR sibling at sf0.01 before this).
    val fp = (c: Column) => floor(c * lit(1073741824.0)).cast("long")
    val vd = embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        fp(col("x")).as("x_fp"),
        pmod(col("vec_id"), lit(2L)).as("fold"))
    val cent = vd.filter(col("fold") === 0L)
      .groupBy(col("label").as("clabel"), col("dim"))
      .agg(sum(col("x_fp")).as("sfp"), count(lit(1)).as("cn"))
      .select(col("clabel"), col("dim"), expr(
        "CASE WHEN sfp >= 0 THEN sfp DIV cn ELSE -((-sfp) DIV cn) END")
        .as("c_fp"))
    val scores = vd.filter(col("fold") === 1L)
      .join(broadcast(cent), Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum(col("x_fp").cast("decimal(38,0)") * col("c_fp"))
        .cast("decimal(38,0)").as("dot"))
    val pred = scores
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"))
          .orderBy(col("dot").desc, col("clabel"))))
      .filter(col("rk") === 1)
    val cells = pred
      .groupBy(col("label").as("actual"), col("clabel").as("predicted"))
      .agg(count(lit(1)).as("n_vecs"))
    val byActual = org.apache.spark.sql.expressions.Window
      .partitionBy(col("actual"))
    cells
      .withColumn("actual_total", sum(col("n_vecs")).over(byActual))
      .select(col("actual"), col("predicted"), col("n_vecs"),
        col("actual_total"),
        expr("n_vecs * 1000000 DIV actual_total").as("recall_ppm"),
        (col("actual") === col("predicted")).as("is_correct"))
      .orderBy(col("actual"), col("predicted"))
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein, SIGIR
    * 1998) — the diversity-aware retrieval step a RAG/context pipeline
    * runs AFTER similarity search: from the query's top-`poolN`
    * relevance pool, greedily pick k items maximizing
    * 7·rel(c) − 3·max_{s∈selected} sim(c,s) (λ = 0.7 with cleared
    * denominators), so the second pick stops being a near-duplicate of
    * the first. Inner-product form on the [[dimStats]] fixed point, so
    * every score is an exact decimal and the whole greedy walk is
    * bit-reproducible — the oracle UNROLLS the k rounds (the same
    * discipline as the pagerank oracle's unrolled iterations).
    *
    * Scale: relevance is one broadcast-join scan; everything after the
    * top-poolN cut runs on BOUNDED frames (poolN candidates, poolN²
    * sims, k tiny argmax rounds) — the greedy's quadratic lives strictly
    * inside the pool, never on the corpus.
    */
  def mmrSelection(
      embeddings: DataFrame,
      queryId: Long = 0L,
      poolN: Int = 50,
      k: Int = 10): DataFrame = {
    // same exact power-of-two fixed point as centroidClassifierEval
    val fp = (c: Column) => floor(c * lit(1073741824.0)).cast("long")
    val vd = embeddings
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"), fp(col("x")).as("x_fp"))
    val q = vd.filter(col("vec_id") === queryId)
      .select(col("dim"), col("x_fp").as("q_fp"))
    val rel = vd.filter(col("vec_id") =!= queryId)
      .join(broadcast(q), Seq("dim"))
      .groupBy(col("vec_id"))
      .agg(sum(col("x_fp").cast("decimal(38,0)") * col("q_fp"))
        .cast("decimal(38,0)").as("rel"))
    // The pool and its pairwise sim matrix are BOUNDED BY CONSTRUCTION
    // (poolN rows, poolN^2 pairs — corpus-independent), so the k greedy
    // rounds run on the driver in exact BigInt arithmetic instead of as
    // k distributed join/checkpoint rounds: the old loop spent ~6 jobs a
    // round on frames of <= 50 rows (66 jobs, 0.6 s of actual task time
    // — pure scheduling overhead). Same class as the repo's other
    // bounded collects (1-row argmaxes, kxdim centroid models).
    val candRows = rel.orderBy(col("rel").desc, col("vec_id")).limit(poolN)
      .collect()
      .map(r => (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger)))
    val poolIds = candRows.map(_._1)
    val candDims = vd.filter(col("vec_id").isin(poolIds: _*))
    val simRows = candDims
      .join(candDims.select(col("vec_id").as("b"), col("dim"),
        col("x_fp").as("y_fp")), Seq("dim"))
      .filter(col("vec_id") =!= col("b"))
      .groupBy(col("vec_id").as("a"), col("b"))
      .agg(sum(col("x_fp").cast("decimal(38,0)") * col("y_fp"))
        .cast("decimal(38,0)").as("sim"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        BigInt(r.getDecimal(2).toBigInteger))).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, BigInt)]
    for (i <- 1 to k) {
      val remaining = candRows.filter { case (id, _) =>
        !selected.exists(_._2 == id) }
      if (remaining.nonEmpty) {
        val pick = remaining.map { case (id, rl) =>
          val ms = selected.map(s => simRows.getOrElse((id, s._2), BigInt(0)))
            .reduceOption(_ max _).getOrElse(BigInt(0))
          (id, rl, rl * 7 - ms * 3)
        }.minBy { case (id, _, score) => (-score, id) }(
          Ordering.Tuple2(Ordering.BigInt, Ordering.Long))
        selected += ((i, pick._1, pick._2))
      }
    }
    // the rank->rel frame is k driver rows; the DIV spelling runs in
    // Spark on the exact decimal(38,0) values, unchanged
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rel",
        org.apache.spark.sql.types.DecimalType(38, 0), nullable = false)))
    val rows = selected.toSeq.map { case (r, id, rl) =>
      org.apache.spark.sql.Row(r, id, new java.math.BigDecimal(rl.bigInteger)) }
    embeddings.sparkSession
      .createDataFrame(
        embeddings.sparkSession.sparkContext.parallelize(rows, 1), schema)
      .select(col("rank"), col("vec_id"),
        expr("cast(CASE WHEN rel >= 0 THEN rel DIV 1073741824" +
          " ELSE -((-rel) DIV 1073741824) END as bigint)")
          .as("rel_fp"))
      .orderBy(col("rank"))
  }

  def mmrOracleSql(
      queryId: Long = 0L, poolN: Int = 50, k: Int = 10): String = {
    // unrolled greedy: sel_i = all picks so far, p_i = round-i argmax
    val rounds = (1 to k).map { i =>
      val prior = if (i == 1) "" else
        s"WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})"
      val ms = if (i == 1) "CAST(0 AS HUGEINT)" else
        s"""COALESCE((SELECT max(s.sim) FROM sims s
           |      WHERE s.a = c.vec_id
           |        AND s.b IN (SELECT vec_id FROM sel${i - 1})), 0)"""
          .stripMargin
      val selDef =
        if (i == 1) s"sel1 AS MATERIALIZED (SELECT vec_id, rel, 1 AS rank FROM p1)"
        else
          s"""sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL
             |  SELECT vec_id, rel, $i FROM p$i)""".stripMargin
      s"""p$i AS (
         |  SELECT c.vec_id, c.rel FROM cand c
         |  $prior
         |  ORDER BY c.rel * 7 - ($ms) * 3 DESC, c.vec_id LIMIT 1),
         |$selDef""".stripMargin
    }.mkString(",\n")
    s"""WITH x0 AS (
       |  SELECT vec_id, unnest(list_transform(
       |    range(1, len(embedding) + 1),
       |    i -> {'dim': i - 1, 'x': embedding[i]::DOUBLE})) AS s
       |  FROM embeddings),
       |vd AS MATERIALIZED (
       |  SELECT vec_id, CAST(s.dim AS INT) AS dim,
       |    CAST(floor(s.x * 1073741824.0) AS BIGINT)
       |      AS x_fp
       |  FROM x0),
       |q AS (SELECT dim, x_fp AS q_fp FROM vd WHERE vec_id = $queryId),
       |rel AS (
       |  SELECT v.vec_id,
       |    CAST(sum(CAST(v.x_fp AS HUGEINT) * q.q_fp) AS HUGEINT) AS rel
       |  FROM vd v JOIN q ON v.dim = q.dim
       |  WHERE v.vec_id <> $queryId
       |  GROUP BY 1),
       |cand AS MATERIALIZED (
       |  SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT $poolN),
       |cd AS MATERIALIZED (SELECT v.* FROM vd v
       |       WHERE v.vec_id IN (SELECT vec_id FROM cand)),
       |sims AS MATERIALIZED (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    CAST(sum(CAST(a.x_fp AS HUGEINT) * b.x_fp) AS HUGEINT) AS sim
       |  FROM cd a JOIN cd b ON a.dim = b.dim AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |$rounds
       |SELECT rank, vec_id,
       |  CAST(CASE WHEN rel >= 0 THEN rel // 1073741824
       |    ELSE -((-rel) // 1073741824) END AS BIGINT) AS rel_fp
       |FROM sel$k ORDER BY rank""".stripMargin
  }

  /** Gonzalez farthest-point k-center selection (Gonzalez, TCS 1985) over
    * the embedding corpus — the coreset / diversity-seeding pass that
    * picks k points whose covering radius 2-approximates the optimal
    * k-center clustering: start from the smallest vec_id, then repeatedly
    * take the point FARTHEST from its nearest already-chosen center.
    * [[mmrSelection]] diversifies a relevance pool against a query; this
    * selects from the WHOLE corpus with no query, the shape used for
    * "pick k maximally-spread documents to seed curriculum / labeling".
    *
    * Exact arithmetic: the same floor(x·2³⁰) fixed point as
    * [[mmrSelection]]; squared Euclidean distances are sums of
    * decimal(38,0) products of long diffs (diffs are cast BEFORE
    * squaring, so no long overflow at any coordinate range the fixed
    * point itself admits). Every comparison is integer-exact, ties break
    * to the smaller vec_id — the selection is a total-order greedy, bit
    * identical across engines.
    *
    * Distributed shape — the INCREMENTAL form: the per-point
    * nearest-center distance `dmin` is a standing frame updated once per
    * round against ONLY the newest center (broadcast, d rows), k map
    * scans total (k·n·d work), never the k·n² naive rematerialization.
    * Each round's argmax is a 1-row total-order sort. The k-round
    * sequential chain is intrinsic to the greedy (same accepted shape as
    * [[graft.operators.Curation]] coverage_selection and [[mmrSelection]]);
    * state is localCheckpointed per round to keep lineage constant.
    * Round i's emitted radius (the picked point's dmin) is the standard
    * nonincreasing 2-approximation certificate.
    */
  def kCenterSelection(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val fp = (c: Column) => floor(c * lit(1073741824.0)).cast("long")
    val vd = embeddings
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"), fp(col("x")).as("x_fp"))
      .localCheckpoint() // scanned once per round; pin the explode
    // `state` (per-point distance to the nearest center) is corpus-sized
    // and stays distributed; the PICKS are k rows — driver-side
    // bookkeeping. The old loop spent ~7 jobs a round on k-row frames
    // (selected checkpoint, pick anti-join checkpoint, broadcast of a
    // filter it could express as a literal); now a round is the dNew
    // scan + state checkpoint + one 1-row argmax collect, and the
    // removal of the picked point is a literal filter on the next
    // round's input (72 jobs / 0.85 s task time -> ~24 jobs).
    val firstId = embeddings.agg(min(col("vec_id"))).head().getLong(0)
    val picks = scala.collection.mutable.ArrayBuffer[
      (Int, Long, java.math.BigDecimal)](
      (1, firstId, java.math.BigDecimal.ZERO))
    var state = vd.select(col("vec_id")).distinct()
      .filter(col("vec_id") =!= firstId)
      .withColumn("dmin", lit(null).cast("decimal(38,0)"))
      .localCheckpoint()
    // AQE materializes every exchange of these small per-round plans as
    // its own job (~7 jobs/round) for no adaptive benefit — the only
    // big-small join is already broadcast-hinted. Off for the loop, the
    // state checkpoint also keeps its hash(vec_id) partitioning (see
    // SuffixArray.docClustered), so each round's state-dNew join
    // re-shuffles only the dNew side.
    PlanCache.withoutAqe(embeddings.sparkSession) {
      var i = 2
      var exhausted = false
      while (i <= k && !exhausted) {
        val cid = picks.last._2
        val cDims = vd.filter(col("vec_id") === cid)
          .select(col("dim"), col("x_fp").as("c_fp"))
        val dNew = vd.join(broadcast(cDims), Seq("dim"))
          .groupBy(col("vec_id"))
          .agg(sum((col("x_fp") - col("c_fp")).cast("decimal(38,0)") *
            (col("x_fp") - col("c_fp"))).cast("decimal(38,0)").as("d_new"))
        val prev = state
        state = state.filter(col("vec_id") =!= cid)
          .join(dNew, Seq("vec_id"))
          .select(col("vec_id"),
            least(coalesce(col("dmin"), col("d_new")), col("d_new"))
              .as("dmin"))
          .localCheckpoint()
        PlanCache.freeCheckpoint(prev)
        val pick = state
          .orderBy(col("dmin").desc, col("vec_id")).limit(1).collect()
        if (pick.isEmpty) exhausted = true // fewer points than k: done
        else picks += ((i, pick.head.getLong(0), pick.head.getDecimal(1)))
        i += 1
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dmin",
        org.apache.spark.sql.types.DecimalType(38, 0), nullable = false)))
    val rows = picks.toSeq.map { case (r, id, d) =>
      org.apache.spark.sql.Row(r, id, d) }
    embeddings.sparkSession
      .createDataFrame(
        embeddings.sparkSession.sparkContext.parallelize(rows, 1), schema)
      .select(col("rank"), col("vec_id"),
        expr("cast(dmin DIV 1073741824 as bigint)").as("radius_fp"))
      .orderBy(col("rank"))
  }

  def kCenterOracleSql(k: Int = 8): String = {
    // unrolled incremental greedy, the mmrOracleSql discipline: per round
    // a 1-row argmax p{i}, distances to that center only, running LEAST
    val rounds = (2 to k).map { i =>
      s"""p$i AS (SELECT vec_id, dmin FROM st${i - 1}
         |  ORDER BY dmin DESC, vec_id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL
         |  SELECT vec_id, $i AS rank, dmin FROM p$i),
         |d$i AS MATERIALIZED (
         |  SELECT a.vec_id,
         |    CAST(sum(CAST(a.x_fp - c.x_fp AS HUGEINT)
         |      * (a.x_fp - c.x_fp)) AS HUGEINT) AS d_new
         |  FROM vd a JOIN vd c ON a.dim = c.dim
         |  WHERE c.vec_id = (SELECT vec_id FROM p$i)
         |  GROUP BY 1),
         |st$i AS MATERIALIZED (
         |  SELECT s.vec_id, LEAST(s.dmin, d.d_new) AS dmin
         |  FROM st${i - 1} s JOIN d$i d USING (vec_id)
         |  WHERE s.vec_id <> (SELECT vec_id FROM p$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH x0 AS (
       |  SELECT vec_id, unnest(list_transform(
       |    range(1, len(embedding) + 1),
       |    i -> {'dim': i - 1, 'x': embedding[i]::DOUBLE})) AS s
       |  FROM embeddings),
       |vd AS MATERIALIZED (
       |  SELECT vec_id, CAST(s.dim AS INT) AS dim,
       |    CAST(floor(s.x * 1073741824.0) AS BIGINT) AS x_fp
       |  FROM x0),
       |p1 AS (SELECT min(vec_id) AS vec_id FROM vd),
       |sel1 AS (SELECT vec_id, 1 AS rank, CAST(0 AS HUGEINT) AS dmin
       |         FROM p1),
       |d1 AS MATERIALIZED (
       |  SELECT a.vec_id,
       |    CAST(sum(CAST(a.x_fp - c.x_fp AS HUGEINT)
       |      * (a.x_fp - c.x_fp)) AS HUGEINT) AS d_new
       |  FROM vd a JOIN vd c ON a.dim = c.dim
       |  WHERE c.vec_id = (SELECT vec_id FROM p1)
       |  GROUP BY 1),
       |st1 AS MATERIALIZED (
       |  SELECT vec_id, d_new AS dmin FROM d1
       |  WHERE vec_id <> (SELECT vec_id FROM p1)),
       |$rounds
       |SELECT rank, vec_id,
       |  CAST(dmin // 1073741824 AS BIGINT) AS radius_fp
       |FROM sel$k ORDER BY rank""".stripMargin
  }

  def centroidClassifierOracleSql: String =
    """WITH x0 AS (
      |  SELECT vec_id, label, unnest(list_transform(
      |    range(1, len(embedding) + 1),
      |    i -> {'dim': i - 1, 'x': embedding[i]::DOUBLE})) AS s
      |  FROM embeddings),
      |vd AS (
      |  SELECT vec_id, label, CAST(s.dim AS INT) AS dim,
      |    CAST(floor(s.x * 1073741824.0) AS BIGINT)
      |      AS x_fp,
      |    vec_id % 2 AS fold
      |  FROM x0),
      |cent AS (
      |  SELECT label AS clabel, dim,
      |    CASE WHEN sfp >= 0 THEN sfp // cn ELSE -((-sfp) // cn) END
      |      AS c_fp
      |  FROM (SELECT label, dim, CAST(sum(x_fp) AS BIGINT) AS sfp,
      |          CAST(count(*) AS BIGINT) AS cn
      |        FROM vd WHERE fold = 0 GROUP BY 1, 2)),
      |scores AS (
      |  SELECT v.vec_id, v.label, c.clabel,
      |    CAST(sum(CAST(v.x_fp AS HUGEINT) * c.c_fp) AS HUGEINT) AS dot
      |  FROM vd v JOIN cent c ON v.dim = c.dim
      |  WHERE v.fold = 1
      |  GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dot DESC, clabel) AS rk
      |    FROM scores)
      |  WHERE rk = 1),
      |cells AS (
      |  SELECT label AS actual, clabel AS predicted,
      |    CAST(count(*) AS BIGINT) AS n_vecs
      |  FROM pred GROUP BY 1, 2),
      |tot AS (
      |  SELECT *, CAST(sum(n_vecs) OVER (PARTITION BY actual) AS BIGINT)
      |    AS actual_total
      |  FROM cells)
      |SELECT actual, predicted, n_vecs, actual_total,
      |  n_vecs * 1000000 // actual_total AS recall_ppm,
      |  (actual = predicted) AS is_correct
      |FROM tot ORDER BY actual, predicted""".stripMargin


  /** DBSCAN over the LSH-cell candidate graph (Ester, Kriegel, Sander &
    * Xu, KDD 1996), cosine neighborhoods: a vector is CORE if ≥ minPts
    * other vectors in its candidate set have cosine ≥ eps-threshold;
    * clusters are the connected components of the core-core neighbor
    * graph; non-core vectors with a core neighbor are BORDER (assigned
    * the min cluster label among their core neighbors — a deterministic
    * stand-in for DBSCAN's order-dependent border assignment); the rest
    * is NOISE.
    *
    * Candidate semantics are part of the CONTRACT, not an approximation
    * being hidden: neighborhoods are computed within the fit-free
    * sign-pattern LSH cells ([[semanticDedupLsh]]'s family — 2^planeBits
    * deterministic Mix64 hyperplanes), so the oracle replays the exact
    * same graph bit-for-bit (plane weights from the shared splitmix
    * chain, dots as left-to-right IEEE folds, `list_cosine_similarity`
    * == [[cosine]]). Density clustering over ALL pairs would be
    * quadratic at corpus scale; cells bound the pair scan exactly the
    * way the SemDeDup path does, and cell count grows with the corpus
    * (the planeBits knob), keeping pairs-per-cell constant.
    *
    * Component labels use the same bounded iterative min-label
    * propagation as [[Dedup.nearDupClusters]] (the core graph is
    * candidate-bounded, lineage-truncated each round, convergence
    * enforced).
    */
  def dbscanLsh(
      embeddings: DataFrame,
      planeBits: Int = 4,
      threshold: Double = 0.5,
      minPts: Int = 3,
      maxIters: Int = 20): DataFrame = {
    val dim = 64
    val embDouble = nonNullVectors(embeddings)
    val flatPlanes = Array.tabulate(planeBits * dim) { idx =>
      planeWeight(idx / dim, idx % dim, dim)
    }
    val assigned = embDouble.select(
      col("vec_id"), col("embedding"),
      element_at(
        graft.functions.GraftColumns.lshBuckets(
          col("embedding"), flatPlanes, 1, planeBits, dim), 1)
        .as("cell"))
      .localCheckpoint()
    val nbrs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .filter(cosine(col("a.embedding"), col("b.embedding")) >= threshold)
      .select(col("a.vec_id").as("v"), col("b.vec_id").as("w"))
      .localCheckpoint()
    val deg = nbrs.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val core = deg.filter(col("deg") >= minPts.toLong)
      .select(col("v").as("cv"))
    val coreEdges = nbrs
      .join(core.withColumnRenamed("cv", "v"), Seq("v"))
      .join(core.withColumnRenamed("cv", "w"), Seq("w"))
      .select(col("v").as("src"), col("w").as("dst"))
      .localCheckpoint()
    var labels = core.select(col("cv").as("vid"))
      .withColumn("cluster_id", col("vid"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val via = coreEdges
        .join(labels, col("dst") === col("vid"))
        .select(col("src").as("vid"), col("cluster_id"))
      val next = labels.union(via)
        .groupBy(col("vid"))
        .agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint()
      changed = next
        .join(labels.withColumnRenamed("cluster_id", "prev"), "vid")
        .filter(col("cluster_id") =!= col("prev"))
        .count()
      labels = next
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"dbscanLsh min-label propagation did not converge in $maxIters rounds")
    val borderLabels = nbrs
      .join(core.withColumnRenamed("cv", "w"), Seq("w")) // core neighbors
      .join(labels, col("w") === col("vid"))
      .groupBy(col("v"))
      .agg(min(col("cluster_id")).as("border_cluster"))
    assigned.select(col("vec_id"), col("cell"))
      .join(deg.withColumnRenamed("v", "vec_id"), Seq("vec_id"), "left")
      .join(labels.withColumnRenamed("vid", "vec_id"), Seq("vec_id"), "left")
      .join(borderLabels.withColumnRenamed("v", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("deg"), lit(0L)).as("n_neighbors"),
        when(col("cluster_id").isNotNull, lit("core"))
          .when(col("border_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("cluster_id"), col("border_cluster"), lit(-1L))
          .as("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB replay of [[dbscanLsh]]: the shared splitmix plane family as
    * CTEs (the ann_lsh spelling), within-cell cosine neighborhoods,
    * degree/core flags, and a reach(v, r) transitive closure over the
    * core-core graph (min reachable id == component label).
    */
  def dbscanLshOracleSql(
      planeBits: Int = 4,
      threshold: Double = 0.5,
      minPts: Int = 3): String =
    s"""WITH RECURSIVE gd AS (
       |  SELECT g, d FROM (SELECT unnest(range(0, $planeBits)) AS g),
       |                   (SELECT unnest(range(0, 64)) AS d)),
       |s1 AS (SELECT g, d,
       |  ((CAST(g * 64 + d AS HUGEINT)) + 11400714819323198485::HUGEINT)
       |    % 18446744073709551616::HUGEINT AS z0 FROM gd),
       |s2a AS (SELECT g, d, xor(z0, z0 // 1073741824) AS a1 FROM s1),
       |s2 AS (SELECT g, d,
       |  ( (a1 * 484763065::HUGEINT) % 18446744073709551616::HUGEINT
       |    + ((a1 * 3210233709::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT
       |  ) % 18446744073709551616::HUGEINT AS z1 FROM s2a),
       |s3a AS (SELECT g, d, xor(z1, z1 // 134217728) AS a2 FROM s2),
       |s3 AS (SELECT g, d,
       |  ( (a2 * 321982955::HUGEINT) % 18446744073709551616::HUGEINT
       |    + ((a2 * 2496678331::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT
       |  ) % 18446744073709551616::HUGEINT AS z2 FROM s3a),
       |wt AS (SELECT g, d,
       |  CAST(xor(z2, z2 // 2147483648) // 2048 AS DOUBLE)
       |    / 4503599627370496.0 * 2.0 - 1.0 AS wtv FROM s3),
       |w AS (SELECT g, list(wtv ORDER BY d) AS wl FROM wt GROUP BY g),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
       |      WHERE len(list_filter(embedding, x -> x IS NULL)) = 0),
       |dots AS (
       |  SELECT vec_id, g AS p,
       |    list_reduce(list_transform(range(1, 65), i -> emb[i] * wl[i]),
       |                (a, b) -> a + b) >= 0 AS pos
       |  FROM e, w),
       |cells AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pos THEN 1 << p ELSE 0 END) AS BIGINT) AS cell
       |  FROM dots GROUP BY 1),
       |nbrs AS (
       |  SELECT a.vec_id AS v, b.vec_id AS w2
       |  FROM cells a JOIN cells b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  JOIN e ea ON a.vec_id = ea.vec_id
       |  JOIN e eb ON b.vec_id = eb.vec_id
       |  WHERE list_cosine_similarity(ea.emb, eb.emb) >= $threshold),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1),
       |core AS (SELECT v AS cv FROM deg WHERE deg >= $minPts),
       |ce AS (
       |  SELECT n.v AS src, n.w2 AS dst FROM nbrs n
       |  JOIN core c1 ON n.v = c1.cv JOIN core c2 ON n.w2 = c2.cv),
       |reach(v, r) AS (
       |  SELECT cv, cv FROM core
       |  UNION
       |  SELECT ce.dst, reach.r FROM reach JOIN ce ON ce.src = reach.v),
       |labels AS (SELECT v AS vid, CAST(min(r) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY 1),
       |border AS (
       |  SELECT n.v, CAST(min(l.cluster_id) AS BIGINT) AS border_cluster
       |  FROM nbrs n JOIN core c ON n.w2 = c.cv
       |  JOIN labels l ON n.w2 = l.vid
       |  GROUP BY 1)
       |SELECT c.vec_id, c.cell,
       |  COALESCE(d.deg, 0) AS n_neighbors,
       |  CASE WHEN l.cluster_id IS NOT NULL THEN 'core'
       |       WHEN b.border_cluster IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  COALESCE(l.cluster_id, b.border_cluster, -1) AS cluster_id
       |FROM cells c
       |LEFT JOIN deg d ON c.vec_id = d.v
       |LEFT JOIN labels l ON c.vec_id = l.vid
       |LEFT JOIN border b ON c.vec_id = b.v
       |ORDER BY c.vec_id""".stripMargin
}

