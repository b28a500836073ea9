package graft

import graft.operators.{FitPins, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Machine-generated DuckDB oracle SQL for the seeded ANN index fits —
  * the "golden-centroid pin": after a Verify run, the fitted IVF
  * centroids / PQ codebooks are emitted as literal VALUES tables into SQL
  * that reproduces every stage DOWNSTREAM of the fit bit-exactly — cell
  * assignment (argmax of dot − ½|c|², first-wins tie-break), query
  * probing, ADC lookup-table scoring, reconstructed norms, shortlist +
  * exact-cosine re-rank, and final ranking.
  *
  * Why pin: the k-means fit is a bounded driver-side iterative procedure
  * (graft.operators.Similarity.localKMeans), not an ANSI-SQL fold, so a
  * fully independent re-derivation is not expressible in DuckDB; pinning
  * the model and re-deriving the whole INDEX + SEARCH pipeline from it is
  * the same technique the ann_lsh oracle uses for its splitmix hyperplane
  * family. The pinned constants are exact: Double.toString emits the
  * shortest decimal that round-trips, and DuckDB's strtod parse is
  * correctly rounded, so the SQL literals are bit-identical to the JVM
  * doubles.
  *
  * Arithmetic contracts mirrored here (verified bit-exact at 3 SFs):
  *   - dot products are sequential left-to-right folds ==
  *     `list_reduce(list_transform(...), (a,b) -> a+b)`
  *     (graft.functions.DotProduct / PqEncode.encode loops);
  *   - argmax with strict `>` keeps the FIRST maximal index ==
  *     `row_number() OVER (ORDER BY score DESC, idx) = 1`;
  *   - Spark's `reduce(_ + _)` over m columns == `list_reduce` over a
  *     j-ordered list (both fold without an initial 0.0);
  *   - cosine == `list_cosine_similarity` on double arrays;
  *   - wrong-length vectors drop on BOTH sides: the engine's PqEncode /
  *     PqLut return null on `numElements != dim` (silently excluding the
  *     row from index and query set) == `len(embedding) = dim` in the
  *     oracle's `e` CTE.
  */
object AnnOracles {

  private def dlit(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite model weight: $d")
    java.lang.Double.toString(d)
  }

  private def halfNorm2(c: Array[Double]): Double = c.map(x => x * x).sum / 2.0
  private def norm2(c: Array[Double]): Double = c.map(x => x * x).sum

  /** `[w0, w1, ...]::DOUBLE[]` literal. */
  private def listLit(c: Array[Double]): String =
    c.map(dlit).mkString("[", ", ", "]::DOUBLE[]")

  /** ann_ivf: assignment + probing + cosine ranking from pinned centroids.
    * Matches Similarity.ivfTopK(embeddings, numQueries, k, nlist, nprobe).
    */
  def ivfSql(f: Similarity.IvfFit): String = {
    val rows = f.centers.zipWithIndex.map { case (c, i) =>
      s"    ($i, ${listLit(c)}, ${dlit(halfNorm2(c))})"
    }.mkString(",\n")
    val dim = f.centers.head.length
    s"""WITH cb(cell, wl, hn) AS (VALUES
$rows),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(embedding) = $dim),
scores AS (
  SELECT vec_id, cell,
    list_reduce(list_transform(range(1, ${dim + 1}), i -> emb[i] * wl[i]),
                (a, b) -> a + b) - hn AS score
  FROM e, cb),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scores) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scores WHERE vec_id < ${f.numQueries}) WHERE rn <= ${f.nprobe}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT c.query_id, c.neighbor_id, list_cosine_similarity(qe.emb, ne.emb) AS sim
  FROM cand c
  JOIN e qe ON c.query_id = qe.vec_id
  JOIN e ne ON c.neighbor_id = ne.vec_id)
SELECT query_id, neighbor_id, sim,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
FROM scored QUALIFY rnk <= ${f.k}
ORDER BY query_id, rnk"""
  }

  /** ann_ivf_append: the incremental-maintenance probe — pinned CORPUS-fit
    * centroids, assignment over the GROWN index (corpus ∪ arrivals),
    * probes from the first `numQueries` arrivals. Matches
    * Similarity.ivfAppendTopK(embeddings, splitId, numQueries, k, nlist,
    * nprobe).
    */
  def ivfAppendSql(f: Similarity.IvfAppendFit): String = {
    val rows = f.centers.zipWithIndex.map { case (c, i) =>
      s"    ($i, ${listLit(c)}, ${dlit(halfNorm2(c))})"
    }.mkString(",\n")
    val dim = f.centers.head.length
    s"""WITH cb(cell, wl, hn) AS (VALUES
$rows),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(embedding) = $dim),
scores AS (
  SELECT vec_id, cell,
    list_reduce(list_transform(range(1, ${dim + 1}), i -> emb[i] * wl[i]),
                (a, b) -> a + b) - hn AS score
  FROM e, cb),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scores) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scores
    WHERE vec_id >= ${f.splitId}
      AND vec_id < ${f.splitId + f.numQueries}) WHERE rn <= ${f.nprobe}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT c.query_id, c.neighbor_id, list_cosine_similarity(qe.emb, ne.emb) AS sim
  FROM cand c
  JOIN e qe ON c.query_id = qe.vec_id
  JOIN e ne ON c.neighbor_id = ne.vec_id)
SELECT query_id, neighbor_id, sim,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
FROM scored QUALIFY rnk <= ${f.k}
ORDER BY query_id, rnk"""
  }

  /** semantic_dedup: same pinned-centroid cell assignment as [[ivfSql]],
    * then the within-cell lower-id pair scan with exact cosine — the whole
    * SemDeDup verdict (dup_of / n_dups / max_sim per vector) reproduced
    * from the pinned quantizer. Matches
    * Similarity.semanticDedup(embeddings, nlist, threshold).
    */
  def semSql(f: Similarity.SemFit): String = {
    val rows = f.centers.zipWithIndex.map { case (c, i) =>
      s"    ($i, ${listLit(c)}, ${dlit(halfNorm2(c))})"
    }.mkString(",\n")
    val dim = f.centers.head.length
    s"""WITH cb(cell, wl, hn) AS (VALUES
$rows),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(embedding) = $dim),
scores AS (
  SELECT vec_id, cell,
    list_reduce(list_transform(range(1, ${dim + 1}), i -> emb[i] * wl[i]),
                (a, b) -> a + b) - hn AS score
  FROM e, cb),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scores) WHERE rn = 1),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS cand,
         list_cosine_similarity(ea.emb, eb.emb) AS sim
  FROM assign a
  JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
  JOIN e ea ON a.vec_id = ea.vec_id
  JOIN e eb ON b.vec_id = eb.vec_id),
dups AS (
  SELECT vec_id, min(cand) AS dup_of, count(*) AS n_dups, max(sim) AS max_sim
  FROM pairs WHERE sim >= ${dlit(f.threshold)} GROUP BY vec_id)
SELECT a.vec_id, a.cell, d.dup_of, d.n_dups, d.max_sim
FROM assign a LEFT JOIN dups d USING (vec_id)
ORDER BY vec_id"""
  }

  /** hybrid_dedup: the [[semSql]] machinery (pinned-centroid cells +
    * within-cell cosine dups) joined with the exact content-digest window
    * over documents — byte-identical and semantic verdicts in one table.
    * Matches Similarity.hybridDedup(documents, embeddings, nlist, threshold).
    */
  def hybridSql(f: Similarity.SemFit): String = {
    val rows = f.centers.zipWithIndex.map { case (c, i) =>
      s"    ($i, ${listLit(c)}, ${dlit(halfNorm2(c))})"
    }.mkString(",\n")
    val dim = f.centers.head.length
    s"""WITH cb(cell, wl, hn) AS (VALUES
$rows),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(embedding) = $dim),
scores AS (
  SELECT vec_id, cell,
    list_reduce(list_transform(range(1, ${dim + 1}), i -> emb[i] * wl[i]),
                (a, b) -> a + b) - hn AS score
  FROM e, cb),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scores) WHERE rn = 1),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS cand,
         list_cosine_similarity(ea.emb, eb.emb) AS sim
  FROM assign a
  JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
  JOIN e ea ON a.vec_id = ea.vec_id
  JOIN e eb ON b.vec_id = eb.vec_id),
dups AS (
  SELECT vec_id, min(cand) AS dup_of
  FROM pairs WHERE sim >= ${dlit(f.threshold)} GROUP BY vec_id),
ex AS (
  SELECT doc_id,
    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
  FROM documents)
SELECT ex.doc_id,
  CASE WHEN ex.keeper < ex.doc_id THEN ex.keeper END AS exact_dup_of,
  du.dup_of AS semantic_dup_of,
  (CASE WHEN ex.keeper < ex.doc_id THEN ex.keeper END IS NULL
   AND du.dup_of IS NULL) AS keep
FROM ex LEFT JOIN dups du ON ex.doc_id = du.vec_id
ORDER BY doc_id"""
  }

  /** embedding_clusters: pinned-centroid cell assignment (as [[ivfSql]]),
    * then per-cell label majorities and purity. Matches
    * Similarity.clusterAudit(embeddings, nlist).
    */
  def clusterSql(f: Similarity.CaFit): String = {
    val rows = f.centers.zipWithIndex.map { case (c, i) =>
      s"    ($i, ${listLit(c)}, ${dlit(halfNorm2(c))})"
    }.mkString(",\n")
    val dim = f.centers.head.length
    s"""WITH cb(cell, wl, hn) AS (VALUES
$rows),
e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(embedding) = $dim),
scores AS (
  SELECT vec_id, cell,
    list_reduce(list_transform(range(1, ${dim + 1}), i -> emb[i] * wl[i]),
                (a, b) -> a + b) - hn AS score
  FROM e, cb),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scores) WHERE rn = 1),
pc AS (
  SELECT a.cell, e.label, count(*) AS cnt
  FROM assign a JOIN e ON a.vec_id = e.vec_id
  GROUP BY 1, 2),
r AS (
  SELECT cell, label, cnt,
    row_number() OVER (PARTITION BY cell
                       ORDER BY cnt DESC, label NULLS FIRST) AS rn,
    CAST(sum(cnt) OVER (PARTITION BY cell) AS BIGINT) AS vec_count
  FROM pc)
SELECT cell, vec_count, label AS majority_label, cnt AS majority_count,
       cnt / vec_count AS purity
FROM r WHERE rn = 1 ORDER BY cell"""
  }

  /** ann_pq: per-subspace encode, reconstructed norms, ADC scoring via the
    * query-side inner-product LUT, k*rerank shortlist, exact re-rank.
    * Matches Similarity.pqTopK(embeddings, numQueries, k, m, ksub, rerank).
    * Assumes dsub == 4 (the shipped configuration: dim 64 / m 16); the
    * per-subspace dot is emitted as an explicit left-associated 4-term sum,
    * identical to the PqEncode accumulation order.
    */
  def pqSql(f: Similarity.PqFit): String = {
    val dsub = f.books(0)(0).length
    require(dsub == 4, s"pqSql emits 4-term subspace dots; got dsub=$dsub")
    val dim = f.m * dsub
    val rows = (for (j <- 0 until f.m; c <- 0 until f.ksub) yield {
      val b = f.books(j)(c)
      s"    ($j, $c, ${b.map(dlit).mkString(", ")}, ${dlit(halfNorm2(b))}, ${dlit(norm2(b))})"
    }).mkString(",\n")
    s"""WITH cb(j, c, b1, b2, b3, b4, hn, n2) AS (VALUES
$rows),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(embedding) = $dim),
sub AS (
  SELECT vec_id, j, c, n2, hn,
    emb[4*j+1] * b1 + emb[4*j+2] * b2 + emb[4*j+3] * b3 + emb[4*j+4] * b4 AS ip
  FROM e, cb),
codes AS (
  SELECT vec_id, j, c AS code, n2 FROM (
    SELECT vec_id, j, c, n2,
      row_number() OVER (PARTITION BY vec_id, j ORDER BY ip - hn DESC, c) AS rn
    FROM sub) WHERE rn = 1),
corpus AS (
  SELECT vec_id, sqrt(list_reduce(list(n2 ORDER BY j), (a, b) -> a + b)) AS nx
  FROM codes GROUP BY vec_id),
qlut AS (SELECT vec_id AS query_id, j, c, ip FROM sub WHERE vec_id < ${f.numQueries}),
nq AS (
  SELECT vec_id AS query_id,
    sqrt(list_reduce(list_transform(range(1, ${dim + 1}), i -> emb[i] * emb[i]),
                     (a, b) -> a + b)) AS nq
  FROM e WHERE vec_id < ${f.numQueries}),
adc AS (
  SELECT l.query_id, p.vec_id AS neighbor_id,
    list_reduce(list(l.ip ORDER BY l.j), (a, b) -> a + b) AS adcip
  FROM codes p JOIN qlut l ON l.j = p.j AND l.c = p.code
  WHERE p.vec_id <> l.query_id
  GROUP BY 1, 2),
simpq AS (
  SELECT a.query_id, a.neighbor_id, a.adcip / (nq.nq * cv.nx) AS sim_pq
  FROM adc a JOIN nq USING (query_id) JOIN corpus cv ON a.neighbor_id = cv.vec_id),
shortlist AS (
  SELECT query_id, neighbor_id, sim_pq FROM (
    SELECT query_id, neighbor_id, sim_pq,
      row_number() OVER (PARTITION BY query_id
           ORDER BY sim_pq DESC, neighbor_id) AS prn
    FROM simpq) WHERE prn <= ${f.k * f.rerank}),
rer AS (
  SELECT s.query_id, s.neighbor_id, s.sim_pq,
    list_cosine_similarity(qe.emb, ne.emb) AS sim
  FROM shortlist s
  JOIN e qe ON s.query_id = qe.vec_id
  JOIN e ne ON s.neighbor_id = ne.vec_id)
SELECT query_id, neighbor_id,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY sim DESC, neighbor_id) AS INT) AS rnk,
  sim_pq, sim
FROM rer QUALIFY rnk <= ${f.k}
ORDER BY query_id, rnk"""
  }

  /** ann_ivfpq: the composed index — pinned coarse centroids AND pinned PQ
    * codebooks; DuckDB re-derives cell assignment, query probing, PQ
    * encoding, reconstructed norms, ADC scoring RESTRICTED to probed
    * cells, the k*rerank shortlist and the exact re-rank.
    * Matches Similarity.ivfPqTopK(embeddings, numQueries, k, nlist,
    * nprobe, m, ksub, rerank). Same arithmetic contracts as ivfSql+pqSql.
    */
  def ivfPqSql(f: Similarity.IvfPqFit): String =
    ivfPqSqlCore(f.centers, f.books, f.m, f.ksub,
      f.numQueries, f.k, f.nprobe, f.rerank,
      queryWhere = s"vec_id < ${f.numQueries}")

  /** ann_ivfpq_append: the composed-index maintenance probe — pinned
    * CORPUS-fit centroids AND codebooks, encode over the grown index,
    * probes/ADC/re-rank from the first `numQueries` arrivals. Matches
    * Similarity.ivfPqAppendTopK.
    */
  def ivfPqAppendSql(f: Similarity.IvfPqAppendFit): String =
    ivfPqSqlCore(f.centers, f.books, f.m, f.ksub,
      f.numQueries, f.k, f.nprobe, f.rerank,
      queryWhere =
        s"vec_id >= ${f.splitId} AND vec_id < ${f.splitId + f.numQueries}")

  private def ivfPqSqlCore(
      centers: Array[Array[Double]], books: Array[Array[Array[Double]]],
      m: Int, ksub: Int, numQueries: Int, k: Int, nprobe: Int, rerank: Int,
      queryWhere: String): String = {
    val dsub = books(0)(0).length
    require(dsub == 4, s"ivfPqSql emits 4-term subspace dots; got dsub=$dsub")
    val dim = m * dsub
    require(centers.head.length == dim,
      s"coarse centroids dim ${centers.head.length} != PQ dim $dim")
    val cbRows = centers.zipWithIndex.map { case (c, i) =>
      s"    ($i, ${listLit(c)}, ${dlit(halfNorm2(c))})"
    }.mkString(",\n")
    val pbRows = (for (j <- 0 until m; c <- 0 until ksub) yield {
      val b = books(j)(c)
      s"    ($j, $c, ${b.map(dlit).mkString(", ")}, ${dlit(halfNorm2(b))}, ${dlit(norm2(b))})"
    }).mkString(",\n")
    s"""WITH cb(cell, wl, hn) AS (VALUES
$cbRows),
pb(j, c, b1, b2, b3, b4, phn, n2) AS (VALUES
$pbRows),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(embedding) = $dim),
cscores AS (
  SELECT vec_id, cell,
    list_reduce(list_transform(range(1, ${dim + 1}), i -> emb[i] * wl[i]),
                (a, b) -> a + b) - hn AS score
  FROM e, cb),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM cscores) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM cscores WHERE $queryWhere) WHERE rn <= $nprobe),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id <> p.query_id),
sub AS (
  SELECT vec_id, j, c, n2, phn,
    emb[4*j+1] * b1 + emb[4*j+2] * b2 + emb[4*j+3] * b3 + emb[4*j+4] * b4 AS ip
  FROM e, pb),
codes AS (
  SELECT vec_id, j, c AS code, n2 FROM (
    SELECT vec_id, j, c, n2,
      row_number() OVER (PARTITION BY vec_id, j ORDER BY ip - phn DESC, c) AS rn
    FROM sub) WHERE rn = 1),
corpus AS (
  SELECT vec_id, sqrt(list_reduce(list(n2 ORDER BY j), (a, b) -> a + b)) AS nx
  FROM codes GROUP BY vec_id),
qlut AS (SELECT vec_id AS query_id, j, c, ip FROM sub WHERE $queryWhere),
nq AS (
  SELECT vec_id AS query_id,
    sqrt(list_reduce(list_transform(range(1, ${dim + 1}), i -> emb[i] * emb[i]),
                     (a, b) -> a + b)) AS nq
  FROM e WHERE $queryWhere),
adc AS (
  SELECT cd.query_id, cd.neighbor_id,
    list_reduce(list(l.ip ORDER BY l.j), (a, b) -> a + b) AS adcip
  FROM cand cd
  JOIN codes p ON p.vec_id = cd.neighbor_id
  JOIN qlut l ON l.query_id = cd.query_id AND l.j = p.j AND l.c = p.code
  GROUP BY 1, 2),
simpq AS (
  SELECT a.query_id, a.neighbor_id, a.adcip / (nq.nq * cv.nx) AS sim_pq
  FROM adc a JOIN nq USING (query_id) JOIN corpus cv ON a.neighbor_id = cv.vec_id),
shortlist AS (
  SELECT query_id, neighbor_id, sim_pq FROM (
    SELECT query_id, neighbor_id, sim_pq,
      row_number() OVER (PARTITION BY query_id
           ORDER BY sim_pq DESC, neighbor_id) AS prn
    FROM simpq) WHERE prn <= ${k * rerank}),
rer AS (
  SELECT s.query_id, s.neighbor_id, s.sim_pq,
    list_cosine_similarity(qe.emb, ne.emb) AS sim
  FROM shortlist s
  JOIN e qe ON s.query_id = qe.vec_id
  JOIN e ne ON s.neighbor_id = ne.vec_id)
SELECT query_id, neighbor_id,
  CAST(row_number() OVER (PARTITION BY query_id
       ORDER BY sim DESC, neighbor_id) AS INT) AS rnk,
  sim_pq, sim
FROM rer QUALIFY rnk <= $k
ORDER BY query_id, rnk"""
  }

  /** One ANN query's pin: its fit for a given embeddings frame under the
    * SparkEntry default parameters, the registry of that index type (for
    * its sole fit), and the SQL that pins a fit.
    */
  private final case class Pin[F](name: String, fitFor: DataFrame => Option[F],
      registry: FitPins[_, F], sql: F => String) {
    def forFrame(emb: DataFrame): Option[(String, String)] =
      fitFor(emb).map(f => name -> sql(f))
    def ifSole: Option[(String, String)] = registry.sole.map(f => name -> sql(f))
  }

  private val pins: Seq[Pin[_]] = Seq(
    Pin("ann_ivf", Similarity.ivfFitFor(_), Similarity.ivfPins, ivfSql),
    Pin("ann_ivf_append", Similarity.ivfAppendFitFor(_), Similarity.ivfAppendPins,
      ivfAppendSql),
    Pin("ann_pq", Similarity.pqFitFor(_), Similarity.pqPins, pqSql),
    Pin("ann_ivfpq", Similarity.ivfPqFitFor(_), Similarity.ivfPqPins, ivfPqSql),
    Pin("ann_ivfpq_append", Similarity.ivfPqAppendFitFor(_),
      Similarity.ivfPqAppendPins, ivfPqAppendSql),
    Pin("semantic_dedup", Similarity.semFitFor(_), Similarity.semPins, semSql),
    Pin("hybrid_dedup", Similarity.semFitFor(_), Similarity.semPins, hybridSql),
    Pin("embedding_clusters", Similarity.caFitFor(_), Similarity.caPins, clusterSql))

  /** The queries whose oracle exists only once their fit has run. */
  val names: Seq[String] = pins.map(_.name)

  /** Oracle entries for THE dataset a Verify run exercised: looks up the
    * keyed fit registry under (that table's plan key, the SparkEntry
    * default parameters), so the emitted SQL always carries the verified
    * run's own centroids/codebooks even when other ANN calls (other
    * datasets, other params, concurrent query builds) ran in the same JVM.
    * Empty before the queries have run — the driver then records the
    * documented rows-only fallback.
    */
  def pinnedFor(spark: SparkSession, sfDir: String): Map[String, String] = {
    val emb = Tables.embeddings(spark, sfDir)
    pins.flatMap(_.forFrame(emb)).toMap
  }

  /** Context-free fallback (the driver contract's parameterless
    * SparkEntry.oracleSql): pins only when the JVM has seen exactly ONE
    * fit per index type — with several live fits the dataset is unknowable
    * here, and omitting the entry (→ rows-only check) beats pinning the
    * wrong model and failing spuriously. graft.Verify uses [[pinnedFor]],
    * so the driver flow always gets the precise entry.
    */
  def pinned: Map[String, String] = pins.flatMap(_.ifSole).toMap
}
