package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph centrality over the document corpus — ranks documents by how
  * embedded they are in the duplicated-span graph (docs sharing verbatim
  * word k-grams), the signal a curation pipeline uses to find template/
  * boilerplate hubs: a doc connected to many other span-sharing docs is
  * much more likely machine-generated filler than an organic document.
  *
  * Reference analogue: the reference has no graph operator — this extends
  * the near-dup cluster surface (`Dedup.nearDupClusters`) from connectivity
  * (which component) to centrality (how important within it), the same
  * public PageRank recurrence (Page et al. 1999) every large-scale dedup
  * stack (e.g. web-graph-based quality weighting) runs beside clustering.
  *
  * All arithmetic is FIXED-POINT INTEGER (ranks in micro-units, BIGINT),
  * so the result is bit-exact across engines — float PageRank sums are
  * summation-order-dependent and cannot be oracle-checked; integer
  * `DIV`/floor semantics are identical in Spark and DuckDB for the
  * non-negative values used here. The deliberate spec divergence from
  * textbook PageRank: per-edge contributions floor-truncate (rank DIV
  * degree), so a little mass evaporates each round — fine for a RANKING
  * (monotone per-node), essential for determinism.
  */
object Centrality {

  /** Rank in micro-units: initial rank 1.0 == 1,000,000. */
  val Scale = 1000000L

  /** Session-scoped cache of the CHECKPOINTED undirected pair list
    * (src < dst) of the shared-span graph at (k, dfCap): five centrality
    * queries build exactly this frame from the same corpus — the
    * build-the-graph-once pattern, riding the cached
    * [[Dedup.hashedShingleDfCached]] shingle frame underneath.
    * [[PlanCache]] discipline.
    */
  private val pairsCache = new PlanCache[(Int, Int)]()

  private[graft] def sharedPairs(
      documents: DataFrame, k: Int, dfCap: Int): DataFrame =
    pairsCache.getOrBuild(documents, (k, dfCap)) {
      val shared = Dedup.hashedShingleDfCached(documents, k)
        .filter(col("df").between(2, dfCap))
        .select(col("sh"), col("doc_id"))
      shared
        .join(shared.select(col("sh"), col("doc_id").as("dst")), Seq("sh"))
        .filter(col("doc_id") < col("dst"))
        .select(col("doc_id").as("src"), col("dst"))
        .distinct()
    }

  /** PageRank over the shared-span graph, a fixed number of rounds.
    *
    * Graph construction (one explode + one self-join on hashed k-grams —
    * the `Dedup.crossDocNgramOverlap` shuffle discipline: 8-byte hashes,
    * never shingle strings):
    *   - nodes: all documents (isolated docs keep rank = damping base);
    *   - edges: unordered doc pairs sharing >= 1 word-`k`-gram whose
    *     document frequency is in [2, dfCap] — the cap drops boilerplate
    *     spans occurring in more than `dfCap` docs, which would otherwise
    *     create O(df^2) pair blow-up (the standard stop-span rule; the
    *     drop is logged in the `degree` column, not silent: capped spans
    *     contribute no edges at all).
    *
    * Iteration: `r' = 0.15*Scale + 0.85 * sum_in(r DIV deg)` with every
    * op on BIGINT. The edge list (with out-degree attached) is built once
    * and `localCheckpoint`ed — each of the `iterations` rounds is then one
    * shuffle on dst (the join with the current rank frame); the rank frame
    * scales with the PAIR graph's node set, not the corpus, and isolated
    * docs join back once at the end (same shape as
    * `Dedup.nearDupClusters`). At 1000 executors each round is a keyed
    * equi-join + aggregate — no driver-side state, no collect.
    */
  def docPagerank(
      documents: DataFrame,
      k: Int = 8,
      dfCap: Int = 50,
      iterations: Int = 3): DataFrame = {
    val pairs = sharedPairs(documents, k, dfCap)
    val edges = pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    // Degree rides on every edge row so each round needs no extra join;
    // built once, materialized once.
    val degW = Window.partitionBy(col("src"))
    val edgesDeg = edges
      .withColumn("deg", count(lit(1)).over(degW))
      .localCheckpoint()
    var rank = edgesDeg.select(col("src").as("doc_id")).distinct()
      .withColumn("rank", lit(Scale))
    for (_ <- 1 to iterations) {
      val contrib = edgesDeg
        .join(rank, edgesDeg("src") === rank("doc_id"))
        .select(col("dst"), expr("rank DIV deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inflow"))
      rank = contrib.select(
        col("dst").as("doc_id"),
        (lit(15L * Scale / 100) +
          expr(s"85 * inflow DIV 100")).as("rank"))
    }
    val degrees = edgesDeg.groupBy(col("src")).agg(max(col("deg")).as("degree"))
    documents.select(col("doc_id"))
      .join(degrees.withColumnRenamed("src", "d"), col("doc_id") === col("d"), "left")
      .join(rank.withColumnRenamed("doc_id", "r"), col("doc_id") === col("r"), "left")
      .select(
        col("doc_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        // isolated docs (and pure sources, which don't exist in an
        // undirected graph) sit at the damping base
        coalesce(col("rank"), lit(15L * Scale / 100)).as("rank_micro"))
      .orderBy(col("doc_id"))
  }

  /** Bounded-hop BFS from a seed set over the shared-span graph — the
    * graph-traversal member of the family (components tell you WHICH
    * cluster, pagerank HOW CENTRAL, this HOW CLOSE to known-bad): given
    * seed documents (e.g. confirmed spam/boilerplate), every doc's
    * minimum hop distance within `maxHops`, -1 beyond. The
    * guilt-by-association signal curation pipelines use to expand a
    * blocklist one audited hop at a time.
    *
    * Each hop is ONE keyed equi-join (frontier x edges) + a min
    * aggregate — the pagerank round shape, with the frame bounded by
    * reached nodes; the edge list builds once (same df-capped
    * construction, localCheckpointed). Fixed `maxHops` = fixed round
    * count: no driver-side convergence loop, no unbounded recursion.
    */
  def docSeedDistance(
      documents: DataFrame, seeds: DataFrame,
      k: Int = 8, dfCap: Int = 50, maxHops: Int = 3): DataFrame = {
    val pairs = sharedPairs(documents, k, dfCap)
    // pairs is a cached checkpoint; the bidirectional union is a cheap
    // double scan of it — a per-invocation edge checkpoint would leak
    val edges = pairs
      .union(pairs.select(col("dst"), col("src")))
      .toDF("src", "dst")
    var dist = seeds.select(col("doc_id")).distinct()
      .withColumn("distance", lit(0L))
    for (_ <- 1 to maxHops) {
      val next = edges
        .join(dist, edges("src") === dist("doc_id"))
        .select(col("dst").as("doc_id"), (col("distance") + 1L).as("distance"))
      dist = dist.union(next)
        .groupBy(col("doc_id"))
        .agg(min(col("distance")).as("distance"))
    }
    documents.select(col("doc_id"))
      .join(dist.withColumnRenamed("doc_id", "r"), col("doc_id") === col("r"), "left")
      .select(col("doc_id"),
        coalesce(col("distance"), lit(-1L)).as("distance"))
      .orderBy(col("doc_id"))
  }

  /** Exact triangle counting + local clustering coefficient over the same
    * shared-span graph as [[docPagerank]] — the complementary cohesion
    * signal: a high-degree doc whose neighbors also link each OTHER (high
    * clustering) sits inside a template FAMILY, not just near one, which
    * is a stronger machine-generated-boilerplate tell than degree alone.
    *
    * Algorithm: the classic ordered-edge-orientation MapReduce scheme
    * (Suri & Vassilvitskii, WWW'11): keep each undirected edge once as
    * (lo, hi); a triangle {i<j<k} is found exactly once as
    * e(i,j) |x| e(j,k) |x| e(i,k) — two equi-joins on the oriented edge
    * list, never an explicit neighborhood cross product, so the shuffle
    * volume is edges + wedge checks, the standard distributed bound. The
    * clustering coefficient is an EXACT ppm fixed point:
    * 2*T*1e6 DIV (deg*(deg-1)) — no float division to drift.
    */
  def docTriangles(
      documents: DataFrame, k: Int = 8, dfCap: Int = 50): DataFrame = {
    // sharedPairs returns the session-cached CHECKPOINT (reuse is free);
    // a per-invocation localCheckpoint here would leak block-manager
    // storage on every call — the leak pattern round 12 fixed elsewhere
    val pairs = sharedPairs(documents, k, dfCap)
    val tri = pairs.select(col("src").as("a"), col("dst").as("b"))
      .join(pairs.select(col("src").as("b2"), col("dst").as("c")),
        col("b") === col("b2"))
      .join(pairs.select(col("src").as("a3"), col("dst").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val perDocTri = tri.select(col("a").as("doc_id"))
      .union(tri.select(col("b")))
      .union(tri.select(col("c")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tri_cnt"))
    val degrees = pairs.select(col("src").as("doc_id"))
      .union(pairs.select(col("dst")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("deg"))
    documents.select(col("doc_id"))
      .join(degrees, Seq("doc_id"), "left")
      .join(perDocTri, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("tri_cnt"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_ppm",
        when(col("degree") >= 2,
          expr("2 * n_triangles * 1000000 DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** k-core of the shared-span graph by synchronous peeling (Seidman,
    * Social Networks 1983; the distributed formulation of Montresor et
    * al., TPDS 2013): each round drops every node whose degree among
    * still-alive nodes is < k, a FIXED number of rounds. Peeling is
    * order-independent (the k-core is the unique maximal subgraph with
    * min degree ≥ k), so synchronous rounds are deterministic; with a
    * fixed round budget the operator is exactly "R-round k-peel", and a
    * `converged` flag (alive set unchanged over the last round) reports
    * whether the fixpoint was reached — the spec pins convergence at
    * harness scales, and the oracle replays the same R rounds either way.
    *
    * The survivors' hub meaning for a curation pipeline: a doc in a
    * dense k-core of the duplicated-span graph sits inside a tightly
    * cross-copied template cluster — stronger evidence than raw degree
    * (which one viral quote inflates).
    *
    * Scale: the edge list is built once (df-capped candidate join, the
    * Dedup shuffle discipline) and localCheckpointed; each round is two
    * semi-joins against the SHRINKING alive set plus one count aggregate
    * — alive is checkpointed per round so lineage stays linear (it is
    * consumed twice per round). Driver work is R row-counts of
    * checkpointed frames.
    */
  def docKcore(
      documents: DataFrame,
      k: Int = 2,
      kgram: Int = 8,
      dfCap: Int = 50,
      rounds: Int = 6): DataFrame = {
    require(rounds >= 2, "need two rounds to report convergence")
    val pairs = sharedPairs(documents, kgram, dfCap)
    // pairs is a cached checkpoint; the bidirectional union is a cheap
    // double scan of it — a per-invocation edge checkpoint would leak
    val edges = pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    def aliveEdges(alive: DataFrame): DataFrame = edges
      .join(alive.select(col("doc_id").as("src")), Seq("src"), "left_semi")
      .join(alive.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
    var alive = edges.select(col("src").as("doc_id")).distinct()
      .localCheckpoint()
    val counts = scala.collection.mutable.ArrayBuffer(alive.count())
    // peeling is monotone (alive only shrinks), so an unchanged COUNT is
    // an unchanged SET and every further round is a provable no-op with
    // the same final frame — stop there (the converged flag and the
    // output are identical to running all `rounds`)
    var r = 1
    while (r <= rounds && (r < 2 || counts(r - 1) != counts(r - 2))) {
      val prev = alive
      alive = aliveEdges(alive)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("doc_id"))
        .localCheckpoint()
      if (!(prev eq alive)) PlanCache.freeCheckpoint(prev)
      counts += alive.count()
      r += 1
    }
    val converged = counts(counts.length - 1) == counts(counts.length - 2)
    aliveEdges(alive)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("core_degree"))
      .select(
        col("src").as("doc_id"), col("core_degree"),
        lit(k).as("k"), lit(converged).as("converged"))
      .orderBy(col("doc_id"))
  }

  /** Synchronous label propagation (Raghavan et al., Phys. Rev. E 2007)
    * over the shared-span graph — COMMUNITY structure, where
    * [[Dedup.nearDupClusters]]' min-label propagation gives only
    * CONNECTIVITY: a giant near-dup component splits into its dense
    * template families. Fully deterministic variant: R synchronous
    * rounds, each node adopts the most frequent label among its
    * neighbors AND itself (the self-vote breaks the classic synchronous
    * two-clique oscillation) with ties to the SMALLEST label (argmax
    * via max(struct(count, −label)) — no randomized update order),
    * isolated docs keep their own label, and an honest `converged`
    * flag reports whether the last round changed anything (same
    * contract as [[docKcore]]).
    *
    * Scale: the df-capped edge list is built once and checkpointed;
    * each round is ONE keyed equi-join + two map-side-combined
    * aggregates on the node frame — no windows, no driver state beyond
    * a per-round changed-count (one long).
    */
  def docCommunities(
      documents: DataFrame,
      kgram: Int = 8,
      dfCap: Int = 50,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "at least one propagation round")
    val pairs = sharedPairs(documents, kgram, dfCap)
    // pairs is a cached checkpoint; the bidirectional union is a cheap
    // double scan of it — a per-invocation edge checkpoint would leak
    val edges = pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("lab"))
      .localCheckpoint()
    var changed = -1L
    var r = 1
    // synchronous LP is deterministic: changed == 0 is a FIXPOINT (the
    // same input reproduces the same labels), so further rounds are
    // provable no-ops with changed staying 0 — stop there; converged
    // flag and labels are identical to running all `rounds`
    while (r <= rounds && changed != 0L) {
      val votes = edges
        .join(labels.select(col("doc_id").as("dst"), col("lab")), Seq("dst"))
        .select(col("src"), col("lab"))
        .unionByName(labels.select(col("doc_id").as("src"), col("lab")))
      val next = votes
        .groupBy(col("src"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("best"))
        .select(col("src").as("doc_id"), (-col("best.nl")).as("lab"))
        .localCheckpoint()
      changed = next.join(labels.withColumnRenamed("lab", "prev"),
        Seq("doc_id"))
        .filter(col("lab") =!= col("prev")).count()
      PlanCache.freeCheckpoint(labels)
      labels = next
      r += 1
    }
    val all = documents.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id"))
        .as("community"))
    val sizes = all.groupBy(col("community"))
      .agg(count(lit(1)).as("community_size"))
    all.join(sizes, Seq("community"))
      .select(col("doc_id"), col("community"), col("community_size"),
        lit(changed == 0L).as("converged"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[docCommunities]]: the k-core oracle's edge CTE,
    * R argmax rounds unrolled (row_number ordered by count DESC, label
    * — the same total order as max(struct(c, −lab))), convergence from
    * the last two label frames.
    */
  def docCommunitiesOracleSql(dfCap: Int = 50, rounds: Int = 4): String = {
    val steps = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
  SELECT src AS doc_id, lab FROM (
    SELECT src, lab, count(*) AS c,
      row_number() OVER (PARTITION BY src ORDER BY count(*) DESC, lab)
        AS rn
    FROM (
      SELECT e.src, l.lab FROM ed e JOIN l${r - 1} l ON e.dst = l.doc_id
      UNION ALL
      SELECT doc_id AS src, lab FROM l${r - 1}) v
    GROUP BY src, lab) t
  WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, len(toks) - 6),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         toks[i+6] || ' ' || toks[i+7]))) AS shingle
  FROM tk),
df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
shf AS (SELECT doc_id, shingle FROM sh JOIN df USING (shingle)
        WHERE df BETWEEN 2 AND $dfCap),
pr AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       FROM shf a JOIN shf b USING (shingle) WHERE a.doc_id < b.doc_id),
ed AS MATERIALIZED (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
l0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS lab FROM ed),
$steps,
allv AS (
  SELECT d.doc_id, coalesce(l.lab, d.doc_id) AS community
  FROM documents d LEFT JOIN l$rounds l USING (doc_id)),
sz AS (SELECT community, CAST(count(*) AS BIGINT) AS community_size
       FROM allv GROUP BY 1),
chg AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM l$rounds a
  JOIN l${rounds - 1} b USING (doc_id) WHERE a.lab <> b.lab)
SELECT v.doc_id, v.community, s.community_size,
  (SELECT n FROM chg) = 0 AS converged
FROM allv v JOIN sz s USING (community)
ORDER BY v.doc_id"""
  }

  /** DuckDB replay of [[docKcore]]: same string-shingle edge CTE as the
    * doc_pagerank oracle, R peel rounds unrolled, convergence from the
    * last two alive counts.
    */
  def docKcoreOracleSql(
      k: Int = 2, dfCap: Int = 50, rounds: Int = 6): String = {
    // every alive set is referenced twice by the next round (src and dst
    // semi-joins) and the edge list by every round: without MATERIALIZED,
    // DuckDB inlines CTEs and the plan re-evaluates the shingle self-join
    // 2^rounds times (measured ~3 min at sf0.01; ~1 s materialized)
    val peels = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT e.src, count(*) AS deg
  FROM ed e JOIN a${r - 1} s ON e.src = s.doc_id
  JOIN a${r - 1} t ON e.dst = t.doc_id GROUP BY 1),
a$r AS MATERIALIZED (SELECT src AS doc_id FROM d$r WHERE deg >= $k)"""
    }.mkString(",\n")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    range(1, len(toks) - 6),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
         toks[i+6] || ' ' || toks[i+7]))) AS shingle
  FROM tk),
df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
shf AS (SELECT doc_id, shingle FROM sh JOIN df USING (shingle)
        WHERE df BETWEEN 2 AND $dfCap),
pr AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       FROM shf a JOIN shf b USING (shingle) WHERE a.doc_id < b.doc_id),
ed AS MATERIALIZED (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
a0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM ed),
$peels
SELECT e.src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree,
  $k AS k,
  ((SELECT count(*) FROM a$rounds) =
   (SELECT count(*) FROM a${rounds - 1})) AS converged
FROM ed e JOIN a$rounds s ON e.src = s.doc_id
JOIN a$rounds t ON e.dst = t.doc_id
GROUP BY 1
ORDER BY 1"""
  }

  /** Bipartite HITS (Kleinberg, JACM 1999) on the doc ↔ shared-shingle
    * incidence graph: shingle hub scores = sum of member docs' authority,
    * doc authority = sum of its shingles' hub scores, two full rounds —
    * the mutual-reinforcement centrality that separates "doc containing
    * ONE viral span" (high degree, low authority growth) from "doc whose
    * spans are all heavily shared" (the template-family core). Scores
    * are MEAN-normalized each half-step (avg = 10⁶) with a global-scalar
    * floor DIV, keeping the walk integer-exact on both engines instead of
    * the classical L2 norm's cross-engine sqrt hazard.
    *
    * Scale: each half-step is one equi-join bip ⋈ scores + one keyed
    * aggregate (shuffle volume = incidence-list size, map-side combined);
    * normalization totals are 1-row broadcasts. Fixed 2 rounds — no
    * driver-side convergence loop.
    */
  def docHits(
      documents: DataFrame,
      k: Int = 4,
      dfCap: Int = 30): DataFrame = {
    // the cached shingle frame is already checkpointed; the dfCap
    // filter + projection re-run per consumer as a cheap map over it
    val bip = Dedup.hashedShingleDfCached(documents, k)
      .filter(col("df").between(2, dfCap))
      .select(col("sh"), col("doc_id"))
    def hubs(auth: DataFrame): DataFrame = {
      val h = bip.join(auth, Seq("doc_id"))
        .groupBy(col("sh")).agg(sum(col("a")).as("h_raw"))
      val tot = h.agg(
        sum(col("h_raw")).cast("decimal(38,0)").as("th"),
        count(lit(1)).as("ns"))
      h.crossJoin(broadcast(tot))
        .select(col("sh"), expr(
          "cast(cast(h_raw as decimal(38,0)) * 1000000 * ns DIV th" +
            " as bigint)").as("h"))
    }
    def auths(hub: DataFrame): DataFrame = {
      val a = bip.join(hub, Seq("sh"))
        .groupBy(col("doc_id")).agg(sum(col("h")).as("a_raw"))
      val tot = a.agg(
        sum(col("a_raw")).cast("decimal(38,0)").as("ta"),
        count(lit(1)).as("nd"))
      a.crossJoin(broadcast(tot))
        .select(col("doc_id"), expr(
          "cast(cast(a_raw as decimal(38,0)) * 1000000 * nd DIV ta" +
            " as bigint)").as("a"))
    }
    val a0 = bip.select(col("doc_id")).distinct()
      .withColumn("a", lit(1000000L))
    val a1 = auths(hubs(a0))
    val a2 = auths(hubs(a1))
    val degrees = bip.groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    documents.select(col("doc_id"))
      .join(degrees, Seq("doc_id"), "left")
      .join(a1.select(col("doc_id"), col("a").as("auth_r1")),
        Seq("doc_id"), "left")
      .join(a2.select(col("doc_id"), col("a").as("auth_r2")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("auth_r1"), lit(0L)).as("auth_micros_r1"),
        coalesce(col("auth_r2"), lit(0L)).as("auth_micros_r2"))
      .orderBy(col("doc_id"))
  }

  def docHitsOracleSql(k: Int = 4, dfCap: Int = 30): String = {
    val cat = (0 until k)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(toks) - ${k - 2}),
       |    i -> $cat))) AS shingle
       |  FROM tk),
       |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
       |bip AS (SELECT doc_id, shingle FROM sh JOIN df USING (shingle)
       |        WHERE df BETWEEN 2 AND $dfCap),
       |a0 AS (SELECT DISTINCT doc_id, CAST(1000000 AS HUGEINT) AS a
       |       FROM bip),
       |h1r AS (SELECT b.shingle, CAST(sum(a.a) AS HUGEINT) AS h_raw
       |        FROM bip b JOIN a0 a USING (doc_id) GROUP BY 1),
       |h1t AS (SELECT CAST(sum(h_raw) AS HUGEINT) AS th,
       |          CAST(count(*) AS HUGEINT) AS ns FROM h1r),
       |h1 AS (SELECT shingle, h_raw * 1000000 * ns // th AS h
       |       FROM h1r, h1t),
       |a1r AS (SELECT b.doc_id, CAST(sum(h.h) AS HUGEINT) AS a_raw
       |        FROM bip b JOIN h1 h USING (shingle) GROUP BY 1),
       |a1t AS (SELECT CAST(sum(a_raw) AS HUGEINT) AS ta,
       |          CAST(count(*) AS HUGEINT) AS nd FROM a1r),
       |a1 AS (SELECT doc_id, a_raw * 1000000 * nd // ta AS a
       |       FROM a1r, a1t),
       |h2r AS (SELECT b.shingle, CAST(sum(a.a) AS HUGEINT) AS h_raw
       |        FROM bip b JOIN a1 a USING (doc_id) GROUP BY 1),
       |h2t AS (SELECT CAST(sum(h_raw) AS HUGEINT) AS th,
       |          CAST(count(*) AS HUGEINT) AS ns FROM h2r),
       |h2 AS (SELECT shingle, h_raw * 1000000 * ns // th AS h
       |       FROM h2r, h2t),
       |a2r AS (SELECT b.doc_id, CAST(sum(h.h) AS HUGEINT) AS a_raw
       |        FROM bip b JOIN h2 h USING (shingle) GROUP BY 1),
       |a2t AS (SELECT CAST(sum(a_raw) AS HUGEINT) AS ta,
       |          CAST(count(*) AS HUGEINT) AS nd FROM a2r),
       |a2 AS (SELECT doc_id, a_raw * 1000000 * nd // ta AS a
       |       FROM a2r, a2t),
       |dg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
       |       FROM bip GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(dg.degree, 0) AS degree,
       |  CAST(COALESCE(a1.a, 0) AS BIGINT) AS auth_micros_r1,
       |  CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth_micros_r2
       |FROM documents d
       |LEFT JOIN dg ON d.doc_id = dg.doc_id
       |LEFT JOIN a1 ON d.doc_id = a1.doc_id
       |LEFT JOIN a2 ON d.doc_id = a2.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Link prediction over the shared-span graph (Liben-Nowell & Kleinberg,
    * CIKM 2003): score NON-adjacent doc pairs at distance 2 by
    * common-neighbor structure — the "which near-dup cluster is about to
    * merge" / "which docs share a template family without direct span
    * overlap yet" signal that complements [[docCommunities]]'s hard
    * labels. Scores, all exact integers:
    *   - common_neighbors: distinct 2-path midpoints
    *   - jaccard_micros:   cn·10^6 DIV (deg_a + deg_b − cn)
    *   - ra_micros:        Σ_w 10^6 DIV deg_w (resource allocation,
    *                       Zhou/Lü/Zhang EPJ B 2009 — per-term floor on
    *                       both engines, so the sum is bit-identical)
    *   - pref_attach:      deg_a · deg_b
    *
    * Scale shape: wedge enumeration is the oriented 2-path equi-join
    * (same discipline as [[docTriangles]]), with the volume bound made
    * EXPLICIT and part of the operator's CONTRACT: the prediction runs
    * on the subgraph of docs whose PARTNER BOUND pb(d) = Σ_{sh∈d}(df−1)
    * is ≤ degCap. pb(d) ≥ deg(d), so every kept node provably has
    * degree ≤ degCap — and, decisively for scale, pb is computable from
    * the shingle frame BEFORE any pair join, so the dense region of the
    * graph (the near-dup cliques that [[Dedup.nearDupClusters]] already
    * names) is never materialized at all: the pair join, the edge list,
    * and the wedge join all run on provably-sparse docs only, total
    * volume ≤ degCap²·|V|. The evolution is instructive and measured:
    * the uncapped wedge join OOMed the 100× smoke; an exact
    * post-join degree cap stopped the OOM but still paid 65 s to BUILD
    * the dense edge list it was about to discard; the partner-bound
    * prefilter removes that cost too. Hub-pruning of this kind is
    * standard in production link predictors (a deg-10⁴ hub contributes
    * 10⁻⁴ RA weight per wedge and pure noise to CN; cf. Gupta et al.,
    * WWW 2013 §4). The DuckDB oracle applies the identical prefilter,
    * so results stay bit-exact. The non-edge filter is one anti-join
    * against the (a<b)-oriented edge list; never an all-pairs product.
    */
  def linkPrediction(
      documents: DataFrame,
      k: Int = 4, // 4-gram spans: the 8-gram graph is all closed cliques
      dfCap: Int = 30,
      degCap: Int = 64,
      topN: Int = 30): DataFrame = {
    val shared = Dedup.hashedShingleDfCached(documents, k)
      .filter(col("df").between(2, dfCap))
      .select(col("sh"), col("doc_id"), col("df"))
    val lowDocs = shared
      .groupBy(col("doc_id"))
      .agg(sum(col("df") - 1).as("pb"))
      .filter(col("pb") <= degCap)
      .select(col("doc_id"))
    val sharedLow = shared
      .join(lowDocs, Seq("doc_id"), "left_semi")
      .select(col("sh"), col("doc_id"))
    val pairs = sharedLow
      .join(sharedLow.select(col("sh"), col("doc_id").as("dst")), Seq("sh"))
      .filter(col("doc_id") < col("dst"))
      .select(col("doc_id").as("src"), col("dst"))
      .distinct()
      .localCheckpoint() // reused 4x: edges (x2), anti-join, degrees
    val edges = pairs.union(pairs.select(col("dst"), col("src")))
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val ew = edges
      .join(deg, col("dst") === col("node"))
      .select(col("src"), col("dst").as("w"), col("deg").as("deg_w"))
    val wedge = ew
      .join(edges.select(col("src").as("w2"), col("dst").as("b")),
        col("w") === col("w2"))
      .filter(col("src") < col("b"))
      .select(col("src").as("a"), col("b"), col("deg_w"))
    val cand = wedge
      .groupBy(col("a"), col("b"))
      .agg(
        count(lit(1)).as("common_neighbors"),
        sum(expr("1000000 DIV deg_w")).as("ra_micros"))
      .join(pairs.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
    cand
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(
        col("a").as("src_doc"), col("b").as("dst_doc"),
        col("common_neighbors"),
        expr("common_neighbors * 1000000 DIV (deg_a + deg_b - common_neighbors)")
          .as("jaccard_micros"),
        col("ra_micros"),
        (col("deg_a") * col("deg_b")).as("pref_attach"))
      .orderBy(col("common_neighbors").desc, col("ra_micros").desc,
        col("src_doc"), col("dst_doc"))
      .limit(topN)
  }

  /** Same edge construction as the pagerank/triangle oracles (string
    * shingles as the equivalence classes), then the wedge join, RA fold,
    * and anti-join replayed literally.
    */
  def linkPredictionOracleSql(
      k: Int = 4, dfCap: Int = 30, degCap: Int = 64,
      topN: Int = 30): String = {
    val cat = (0 until k)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(toks) - ${k - 2}),
       |    i -> $cat))) AS shingle
       |  FROM tk),
       |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
       |shf AS (SELECT doc_id, shingle FROM sh JOIN df USING (shingle)
       |        WHERE df BETWEEN 2 AND $dfCap),
       |low AS (SELECT doc_id FROM (
       |         SELECT s.doc_id, CAST(sum(d.df - 1) AS BIGINT) AS pb
       |         FROM shf s JOIN df d USING (shingle) GROUP BY 1)
       |       WHERE pb <= $degCap),
       |shl AS (SELECT doc_id, shingle FROM shf
       |        WHERE doc_id IN (SELECT doc_id FROM low)),
       |pr AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |       FROM shl a JOIN shl b USING (shingle)
       |       WHERE a.doc_id < b.doc_id),
       |ed AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
       |dg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |       FROM ed GROUP BY 1),
       |ew AS (SELECT e.src, e.dst AS w, d.deg AS deg_w
       |       FROM ed e JOIN dg d ON e.dst = d.node),
       |wg AS (SELECT ew.src AS a, e2.dst AS b, ew.deg_w
       |       FROM ew JOIN ed e2 ON ew.w = e2.src WHERE ew.src < e2.dst),
       |cd AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
       |         CAST(sum(1000000 // deg_w) AS BIGINT) AS ra_micros
       |       FROM wg GROUP BY 1, 2),
       |ne AS (SELECT cd.* FROM cd LEFT JOIN pr
       |         ON cd.a = pr.src AND cd.b = pr.dst
       |       WHERE pr.src IS NULL)
       |SELECT ne.a AS src_doc, ne.b AS dst_doc, common_neighbors,
       |  common_neighbors * 1000000
       |    // (da.deg + db.deg - common_neighbors) AS jaccard_micros,
       |  ra_micros,
       |  da.deg * db.deg AS pref_attach
       |FROM ne JOIN dg da ON ne.a = da.node JOIN dg db ON ne.b = db.node
       |ORDER BY common_neighbors DESC, ra_micros DESC, src_doc, dst_doc
       |LIMIT $topN""".stripMargin
  }
}
