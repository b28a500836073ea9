package graft.operators

import graft.functions.GraftColumns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, in increasing
  * robustness-to-perturbation order: exact (content hash), n-gram Jaccard
  * (exact set overlap), MinHash+LSH (sketched overlap, the 100 TB path),
  * SimHash (bit-fingerprint Hamming).
  *
  * Scale notes:
  *   - Exact dedup is one hash-shuffle on a 128-bit digest — never on the
  *     full text — so shuffle volume is rows x 16 bytes.
  *   - Pairwise Jaccard via a shingle self-join is quadratic in the worst
  *     case (hot shingles); it is the *verification* primitive. At corpus
  *     scale, MinHash banding bounds the join to near-duplicate candidates:
  *     per-band equality buckets, expected O(n x collision-rate).
  *   - All signatures are computed in one pass (explode + min-aggregate with
  *     map-side combine); no driver-side state anywhere.
  */
object Dedup {

  /** Exact dedup on content digest: one row per distinct text, with the
    * surviving (minimum) doc_id and the duplicate count.
    */
  def exactGroups(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("dup_count"))
      .orderBy(col("content_hash"))

  /** Distinct word-k-gram shingle set per document (empty below k tokens).
    * Native one-pass [[graft.functions.WordShingles]] expression — the
    * compositional transform/element_at form re-splits the text per element
    * on the interpreted higher-order-function path (measured 26 s vs <2 s at
    * sf0.1 for the jaccard query).
    */
  def shingles(documents: DataFrame, k: Int = 3): DataFrame =
    documents.select(
      col("doc_id"),
      GraftColumns.wordShingles(col("text"), k).as("shingles"))

  /** Exact n-gram Jaccard near-duplicate pairs (doc_id ordered, similarity
    * >= threshold). Shingle inverted index self-join + per-pair overlap
    * count; jaccard = |A∩B| / (|A|+|B|-|A∩B|) as exact integer division.
    *
    * Formulation notes (measured at sf0.1, 5000 docs, 1.27M index-join
    * rows): a PPJoin-style prefix filter (Bayardo et al. WWW'07) was
    * implemented and benchmarked — it cut index-join rows 2.1x but was
    * 2.3x SLOWER end-to-end, because verification flips from a map-side-
    * combined groupBy COUNT over join rows (one shuffle of partial counts)
    * to per-candidate-pair array_intersect over full shingle sets, and on
    * this similarity graph (many low-overlap pairs sharing one hot
    * shingle) candidates ≈ join pairs. The count formulation IS the right
    * one while candidate count ~ pair count; the size filter below
    * (t·|A| <= |B| <= |A|/t, necessary for J >= t) is kept from that
    * family as free exact pruning. At corpus scale neither exact variant
    * is the dedup path — MinHash-LSH is; this is its verification
    * primitive.
    */
  def ngramJaccardPairs(documents: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame = {
    // The set size rides along through the explode (it's functionally
    // dependent on doc_id), so no separate sizes aggregate and no
    // post-aggregation joins — three fewer shuffles than the textbook
    // inverted-index formulation. Widened: this is the one dedup query
    // whose per-row work (shingle + index join) is heavy enough that
    // parallelizing a narrow scan beats the extra stage (Layout.widen).
    val sh = shingles(Layout.widen(documents), k)
      .select(
        col("doc_id"), size(col("shingles")).cast("long").as("n"),
        explode(col("shingles")).as("shingle"))
    // The size prune must be CONSERVATIVE: t is a binary double, so t*n
    // can land a hair above an exact boundary (0.3*10 > 3.0) and drop a
    // true J==t pair. Relaxing the prune by an epsilon keeps it purely an
    // optimization — the exact jaccard filter below is the gate.
    val pruneT = lit(threshold - 1e-9)
    sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * pruneT <= col("b.n") &&
          col("b.n") * pruneT <= col("a.n"))
      .groupBy(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("common_shingles"))
      .select(
        col("doc_a"), col("doc_b"), col("common_shingles"),
        (col("common_shingles") /
          (col("na") + col("nb") - col("common_shingles"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** splitmix64 finalizer over a long Column (native [[graft.functions.Mix64]]
    * — ANSI mode makes builtin long arithmetic throw on overflow, so the
    * wrapping mix must be a native expression). Emulated exactly in the
    * DuckDB oracle with HUGEINT mod-2^64 arithmetic.
    */
  private def mix64(c: Column): Column = GraftColumns.mix64(c)

  /** MinHash signatures: numPerms independent min-hashes of the shingle set,
    * computed in ONE pass over the exploded shingles (numPerms min-aggregates
    * with map-side partial aggregation).
    *
    * The permutation family hashes each shingle string ONCE
    * ([[graft.functions.Fnv1a64]]) and derives permutation i as the
    * splitmix64 mix of (base XOR seed_i) — cheaper than numPerms string
    * hashes, built from public algorithms, and reproduced bit-exactly by
    * the DuckDB oracle (an engine-internal hash here would make the sketch
    * unverifiable by an independent engine).
    */
  def minhashSignatures(documents: DataFrame, k: Int = 3, numPerms: Int = 16): DataFrame = {
    val sh = shingles(documents, k)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), GraftColumns.fnv1a64(col("shingle")).as("base"))
    val mins = (0 until numPerms).map(i =>
      min(mix64(col("base").bitwiseXOR(lit(i * 0x9E3779B97F4A7C15L))))
        .as(s"sig_$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding: band the signature, bucket-join per band to get
    * candidate pairs, then estimate similarity as the fraction of agreeing
    * signature components. This is the operator that replaces the quadratic
    * shingle self-join at 100 TB: only banded collisions are ever joined.
    */
  def minhashLshPairs(
      documents: DataFrame,
      k: Int = 3,
      numPerms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val rowsPerBand = numPerms / bands
    val sigs = minhashSignatures(documents, k, numPerms)
      .withColumn("sig", array((0 until numPerms).map(i => col(s"sig_$i")): _*))
      .select("doc_id", "sig")

    // band key = splitmix64 fold over the band's signature components
    // (h := mix64(h XOR sig)), seeded by the band index — same public
    // primitive as the permutations, so the DuckDB oracle reproduces it
    val bandKeys = (0 until bands).map { b =>
      val bkey = (0 until rowsPerBand).foldLeft(lit(b.toLong)) { (h, r) =>
        mix64(h.bitwiseXOR(element_at(col("sig"), b * rowsPerBand + r + 1)))
      }
      struct(lit(b).as("band"), bkey.as("bkey"))
    }
    // Signatures ride along through the banding so candidate pairs never
    // re-join (and re-compute) the signature subplan.
    val banded = sigs
      .select(col("doc_id"), col("sig"), explode(array(bandKeys: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (aggregate(
          zip_with(col("a.sig"), col("b.sig"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v) / lit(numPerms.toDouble)).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Near-duplicate CLUSTER assignment: connected components over the
    * pair graph, labeling every document with the minimum doc_id of its
    * component. Dedup is transitive in practice (A~B, B~C ⇒ one cluster
    * keeps one survivor), so pipelines need components, not pairs.
    *
    * Iterative min-label propagation: each round is one edges⋈labels
    * equi-join + min-aggregate (both hash-partitioned on doc ids — no
    * driver-side graph state, scales with the edge list), converging in
    * O(component diameter) rounds — near-dup components are shallow (a
    * handful of rounds; convergence checked by counting changed labels;
    * a diameter beyond `maxIters` THROWS rather than silently shipping
    * partial labels). `localCheckpoint()` truncates the lineage
    * each round so the plan doesn't grow with iterations — the standard
    * Spark iterative-algorithm requirement. The large-star/small-star
    * reformulation (Kiveris et al., "Connected Components in MapReduce",
    * SoCC'14) is the drop-in upgrade if diameters grow.
    */
  /** Cluster-label cache: like an ANN index, a clustering is derived once
    * and consumed by several downstream queries (survivor selection, edit
    * audits); a hit skips the whole propagation loop.
    *
    * Caveats this cache respects (unlike the driver-side-array caches in
    * [[graft.operators.Similarity]], the value here is a session-bound
    * checkpointed frame):
    *   - plans containing an in-memory LocalRelation are NEVER cached —
    *     canonicalization prints only their SCHEMA, so two different
    *     in-memory datasets would collide on one key;
    *   - the Spark applicationId is part of the key, so a restarted
    *     context can't serve frames whose checkpoint blocks died with the
    *     old one (executor loss within an app still invalidates
    *     localCheckpoint blocks — the production path for a durable
    *     clustering is writing it to a table, not this cache);
    *   - the propagation loop runs OUTSIDE the lock (concurrent callers
    *     of other keys never stall behind a cold-key computation; a race
    *     recomputes at worst), and eviction runs before insert so the map
    *     never exceeds its bound.
    */
  // key: ([[PlanCache.planKey]] of documents, of pairs, maxIters). Not a
  // [[PlanCache]]: it keys on two frames and stores a lazy plan over the
  // label checkpoint rather than a checkpoint of its own.
  private val clusterCache = scala.collection.mutable.Map.empty[
    ((String, String, String), (String, String, String), Int), DataFrame]

  def nearDupClusters(
      documents: DataFrame,
      pairs: DataFrame,
      maxIters: Int = 20): DataFrame =
    PlanCache.planKey(documents).zip(PlanCache.planKey(pairs)) match {
      case None => computeNearDupClusters(documents, pairs, maxIters)
      case Some((docsKey, pairsKey)) =>
        val key = (docsKey, pairsKey, maxIters)
        clusterCache.synchronized(clusterCache.get(key)) match {
          case Some(cached) => cached
          case None =>
            val computed = computeNearDupClusters(documents, pairs, maxIters)
            clusterCache.synchronized {
              clusterCache.get(key) match {
                case Some(winner) => // concurrent compute won the race: keep
                  PlanCache.freeCheckpoint(computed) // ours, unseen by anyone
                  winner
                case None =>
                  if (clusterCache.size >= 16) {
                    clusterCache.valuesIterator.foreach(PlanCache.freeCheckpoint)
                    clusterCache.clear()
                  }
                  clusterCache.getOrElseUpdate(key, computed)
              }
            }
        }
    }

  /** Task-count target for the per-round label frames: one task per
    * `rowsPerTask` edge rows, floored at 4 (don't serialize tiny graphs
    * onto one core) and capped at 2048 (past that, per-task scheduling
    * overhead dominates for the ~16-byte label rows). Pure function —
    * unit-tested directly in DedupSimilaritySpec.
    */
  private[graft] def adaptiveParts(edgeRows: Long, rowsPerTask: Long = 500000L): Int = {
    // ceil-divide without the +rowsPerTask-1 trick (which overflows Long
    // near Long.MaxValue and would silently floor a huge graph to 4 tasks)
    val tasks = edgeRows / rowsPerTask + (if (edgeRows % rowsPerTask == 0) 0 else 1)
    math.max(4L, math.min(2048L, tasks)).toInt
  }

  private def computeNearDupClusters(
      documents: DataFrame,
      pairs: DataFrame,
      maxIters: Int): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    // Only docs touching an edge participate in the iteration (every other
    // doc is a singleton cluster by construction and joins back once at
    // the end) — per-round frames scale with the PAIR graph, not the
    // corpus.
    // The label frames scale with the pair graph (small next to the
    // corpus): coalesce before each checkpoint so per-round jobs run
    // edge-proportional task counts, not shuffle.partitions of them. The
    // target scales with |edges|/rowsPerTask (edges is already
    // materialized by the checkpoint, so the count is a cached-block
    // scan, not a recompute): a 60k-pair sf0.1 run stays at the 4-task
    // floor. coalesce() only ever REDUCES partitions, so on a huge edge
    // list (target above spark.sql.shuffle.partitions) it is a no-op and
    // the rounds keep the full shuffle parallelism — the desired
    // behavior; per-task row volume there is governed by the cluster's
    // shuffle.partitions / AQE advisory size, not by this floor.
    val labelParts = adaptiveParts(edges.count())
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("cluster_id", col("doc_id"))
      .coalesce(labelParts)
      .localCheckpoint()
    // Shiloach-Vishkin rounds: ROOT HOOKING (every root with a cross-tree
    // edge adopts the minimum adjacent root — tree count per component at
    // least halves, so rounds are O(log component size), never O(diameter);
    // plain neighbor-label propagation needs diameter rounds, which real
    // near-dup graphs exceed: the image dHash graph at sf0.1 has a 58-hop
    // min-label eccentricity and converges here in 6 rounds) followed by
    // SHORTCUT TO CLOSURE (pointer jumping until every label is a root —
    // a label is always a member id of the same component, so following it
    // is safe; chain length halves per jump).
    //
    // Generations go through [[freshGen]], not bare localCheckpoint:
    // Spark 4's localCheckpoint copies the PARENT plan's estimated
    // statistics onto the checkpoint leaf (LogicalRDD.fromDataset →
    // rewriteStatsAndConstraints), and a self-join fixpoint loop SQUARES
    // that estimate every generation — by generation ~17 the driver sits
    // for minutes inside million-digit BigInteger multiplication in stats
    // estimation (observed live: jstack into BigInteger.multiplyToomCook3
    // under SizeInBytesOnlyStatsPlanVisitor). Rebuilding the frame from
    // the checkpointed RDD resets the leaf to constant-size default stats,
    // so every generation restarts from a constant-digit estimate while
    // keeping the materialized blocks and the truncated lineage.
    def freshGen(df: DataFrame): (DataFrame, DataFrame) = {
      val cp = df.coalesce(labelParts).localCheckpoint()
      (cp.sparkSession.createDataFrame(cp.rdd, cp.schema), cp)
    }
    var labelsCp = labels
    labels = labels.sparkSession.createDataFrame(labels.rdd, labels.schema)
    var merging = 1L
    var iter = 0
    while (merging > 0 && iter < maxIters) {
      val ru = labels
        .withColumnRenamed("doc_id", "src").withColumnRenamed("cluster_id", "ru")
      val rv = labels
        .withColumnRenamed("doc_id", "dst").withColumnRenamed("cluster_id", "rv")
      val crossRoot = edges.join(ru, "src").join(rv, "dst")
        .filter(col("ru") =!= col("rv"))
      val (prop, propCp) = freshGen(crossRoot
        .select(col("ru").as("root"), least(col("ru"), col("rv")).as("cand"))
        .union(crossRoot
          .select(col("rv").as("root"), least(col("ru"), col("rv")).as("cand")))
        .groupBy(col("root"))
        .agg(min(col("cand")).as("cand")))
      merging = prop.count()
      if (merging > 0) {
        var (next, nextCp) = freshGen(labels
          .join(prop.withColumnRenamed("root", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("cand"), col("cluster_id")))
              .as("cluster_id")))
        // shortcut to closure: lbl := lbl(lbl) until fixpoint
        var jumping = 1L
        while (jumping > 0) {
          val l1 = next.select(
            col("doc_id").as("l_doc"), col("cluster_id").as("l_lbl"))
          val l2 = next.select(
            col("doc_id").as("m_doc"), col("cluster_id").as("m_lbl"))
          val (jumped, jumpedCp) = freshGen(
            l1.join(l2, col("l_lbl") === col("m_doc"))
              .select(col("l_doc").as("doc_id"), col("m_lbl").as("cluster_id")))
          jumping = jumped
            .join(next.withColumnRenamed("cluster_id", "prev"), "doc_id")
            .filter(col("cluster_id") =!= col("prev"))
            .count()
          PlanCache.freeCheckpoint(nextCp)
          next = jumped
          nextCp = jumpedCp
        }
        PlanCache.freeCheckpoint(labelsCp)
        labels = next
        labelsCp = nextCp
      }
      PlanCache.freeCheckpoint(propCp)
      iter += 1
    }
    if (merging > 0)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIters rounds ($merging roots " +
          s"still merging) — a component holds more than ~2^$maxIters hooked " +
          "trees; raise maxIters")
    // The result reads only the labels: the doubled edge list would
    // otherwise stay checkpointed for the rest of the session.
    PlanCache.freeCheckpoint(edges)
    // Build the result on the CHECKPOINTED frame (labelsCp), not the
    // stats-reset view: the returned plan then contains the checkpoint's
    // LogicalRDD, so clusterCache eviction (freeCheckpoint) releases the
    // label blocks.
    documents.select(col("doc_id"))
      .join(labelsCp.withColumnRenamed("doc_id", "member"),
        col("doc_id") === col("member"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Incremental exact dedup — the production arrival path: a NEW batch
    * must deduplicate against the existing corpus AND itself without
    * re-reading corpus text. The corpus side contributes only its 16-byte
    * content digests; the batch resolves its own duplicates to the min
    * doc_id, then anti-joins the corpus digest set. At 100 TB the digest
    * table is the only standing state (rows x 16 bytes, bucketable by
    * digest), and each arriving batch costs one digest shuffle + one
    * anti-join — corpus text is never rescanned.
    */
  /** Shared survivor derivation (exact-dedup semantics: one row per
    * distinct text digest, min doc_id wins) — the single definition
    * [[exactGroups]], [[incrementalDedup]] and [[dedupSourceShift]] agree
    * on.
    */
  private def survivorIds(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))

  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusHashes = corpus.select(md5(col("text")).as("content_hash")).distinct()
    survivorIds(newDocs)
      .join(corpusHashes, Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination scan: for each doc in the benchmark set,
    * the maximum n-gram CONTAINMENT |bench ∩ train| / |bench| against any
    * training doc, plus the worst-overlapping doc id — the check every
    * training pipeline runs before shipping a corpus that might include
    * its own eval set. Containment (not Jaccard): a benchmark snippet
    * pasted inside a much larger page has low Jaccard but containment ~1.
    *
    * Both sides build their inverted index (shingle + explode), but the
    * bench/train split happens BELOW the shingling — the benchmark side
    * semi-joins down to its handful of docs before any explode, so the
    * candidate volume is bench-shingles x collision rate, never |train|².
    */
  def benchmarkContamination(
      documents: DataFrame,
      benchmarkIds: DataFrame,
      k: Int = 3): DataFrame = {
    def index(docs: DataFrame) = shingles(docs, k)
      .select(
        col("doc_id"), size(col("shingles")).cast("long").as("n"),
        explode(col("shingles")).as("shingle"))
    val bench = index(documents.join(benchmarkIds, Seq("doc_id"), "left_semi"))
      .select(col("doc_id").as("bench_id"), col("n").as("nb"), col("shingle"))
    val train = index(documents.join(benchmarkIds, Seq("doc_id"), "left_anti"))
      .select(col("doc_id").as("train_id"), col("shingle"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bench_id"))
      .orderBy(desc("containment"), asc("train_id"))
    bench
      .join(train, "shingle")
      .groupBy(col("bench_id"), col("train_id"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .select(
        col("bench_id"), col("train_id"),
        (col("common") / col("nb")).as("containment"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("bench_id"),
        col("containment").as("max_containment"),
        col("train_id").as("worst_train_id"))
      .orderBy(col("bench_id"))
  }

  /** Source-mixture shift under exact dedup: per source, docs and tokens
    * BEFORE vs AFTER keeping one doc per distinct text (the survivor =
    * min doc_id, [[exactGroups]] semantics) — the report that shows which
    * sources were inflating the mixture with duplicates. One digest
    * shuffle + one broadcast-size join; never moves document text.
    */
  def dedupSourceShift(documents: DataFrame): DataFrame = {
    val toks = graft.functions.TextAnalysis.wsTokenCount(col("text"))
    val survivors = survivorIds(documents).select(col("doc_id"))
    documents
      .join(survivors.withColumn("kept", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs_before"),
        coalesce(sum(col("kept")), lit(0L)).as("docs_after"),
        sum(toks).as("tokens_before"),
        coalesce(sum(when(col("kept").isNotNull, toks)), lit(0L)).as("tokens_after"))
      .orderBy(col("source"))
  }

  /** Edit-distance audit of near-dup clusters: for every non-singleton
    * cluster member, the levenshtein distance (and length-normalized
    * ratio) between its text and its cluster keeper's text. Bounded to
    * intra-cluster (member, keeper) pairs — the set clustering already
    * produced, never an all-pairs product — so the quadratic-cost edit
    * distance only ever touches verified near-duplicates. The last
    * human-auditable check of a dedup pipeline before dropping rows.
    */
  def clusterEditDistances(documents: DataFrame, clusters: DataFrame): DataFrame = {
    val members = clusters.filter(col("doc_id") =!= col("cluster_id"))
    val dist = levenshtein(col("member_text"), col("keeper_text")).cast("long")
    members
      .join(documents.select(col("doc_id"), col("text").as("member_text")), "doc_id")
      .join(
        documents.select(col("doc_id").as("cluster_id"), col("text").as("keeper_text")),
        "cluster_id")
      .select(
        col("cluster_id"), col("doc_id"),
        dist.as("edit_distance"),
        (dist / greatest(length(col("member_text")), length(col("keeper_text")))
          .cast("long")).as("edit_ratio"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  /** Attach the exact n-gram Jaccard to CANDIDATE pairs as a self-check /
    * verification column. This is the standard second stage of sketch-based
    * dedup at scale: sketches (MinHash-LSH, SimHash bands) generate a small
    * candidate set, then the exact overlap is computed only for candidates —
    * two equi-joins against the shingle sets, never an all-pairs product.
    * Emitting it next to the sketch estimate makes every output row
    * self-verifying (|est − exact| is bounded by the sketch's error bar).
    */
  def withExactJaccard(pairs: DataFrame, documents: DataFrame, k: Int = 3): DataFrame = {
    val sh = shingles(documents, k)
    val sa = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    val common = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val unionSize =
      size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - col("common")
    pairs
      .join(sa, "doc_a")
      .join(sb, "doc_b")
      .withColumn("common", common)
      // Docs below k tokens have EMPTY shingle sets (simhash pairs can
      // still surface them): J(∅,∅) is defined as 1.0 (equal sets), never
      // a NULL from 0/0 — the self-check column must be total.
      .withColumn("exact_jaccard",
        when(unionSize === 0, lit(1.0)).otherwise(col("common") / unionSize))
      .drop("sh_a", "sh_b", "common")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-duplicate pairs: 64-bit fingerprint per document (native
    * [[graft.functions.SimHash64]] expression, one pass, no shuffle), then
    * candidate generation by band equality, then exact Hamming verification
    * via bit_count(xor).
    *
    * Recall guarantee is pigeonhole: a pair within Hamming distance d shares
    * at least one of d+1 equal bands, so the band count derives from
    * `maxHamming` (not a fixed 4) — larger distances automatically get more,
    * narrower bands rather than silently losing pairs.
    */
  def simhashPairs(
      documents: DataFrame,
      maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(
      documents.select(
        col("doc_id"),
        GraftColumns.simhash64(split(col("text"), " ")).as("fp")),
      maxHamming)

  /** Hamming-banded near-dup pairs over ANY 64-bit fingerprint frame
    * `(doc_id, fp)` — the shared candidate-generation core of the SimHash
    * text path above and the perceptual-hash image path
    * ([[graft.multimodal.Multimodal.imageNearDups]]). Pigeonhole-lossless:
    * a pair within Hamming distance `maxHamming` shares at least one of
    * the `maxHamming + 1` equal bands, so the band equi-join (never an
    * all-pairs scan) generates every true pair; exact `bit_count(xor)`
    * verification then drops the false candidates.
    */
  def bandedHammingPairs(
      fps: DataFrame,
      maxHamming: Int): DataFrame = bandedPairs(fps, maxHamming, Nil)

  /** [[bandedHammingPairs]] generalized with carry-through columns: every
    * name in `carry` rides the banding unchanged and lands on the output
    * as `<name>_a` / `<name>_b`. Carried values must be functionally
    * determined by `doc_id` (one row per doc on the input), so the band
    * dedup `distinct()` still collapses multi-band candidate hits to one
    * pair row. Carrying beats a join-back against the (often aggregated)
    * fingerprint frame: the agg subtree would otherwise be recomputed per
    * join branch.
    */
  private def bandedPairs(
      fps: DataFrame,
      maxHamming: Int,
      carry: Seq[String]): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 32)")
    val bands = maxHamming + 1
    val bandWidth = 64 / bands // last band absorbs the remainder bits
    val carried = carry.map(col)
    val banded = fps.select(
        Seq(col("doc_id"), col("fp")) ++ carried :+
        explode(array((0 until bands).map { b =>
          val width = if (b == bands - 1) 64 - b * bandWidth else bandWidth
          val mask = if (width >= 64) -1L else (1L << width) - 1L
          struct(lit(b).as("band"),
            shiftright(col("fp"), b * bandWidth).bitwiseAND(lit(mask)).as("bkey"))
        }: _*))
          .as("bb"): _*)
      .select(Seq(col("doc_id"), col("fp"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey")) ++ carried: _*)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        Seq(
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming")) ++
        carry.flatMap(c =>
          Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Probe-vs-index banded Hamming matcher: the DISTINCT probe doc_ids
    * having at least one index fingerprint within `maxHamming` (including
    * 0 — an exact match). Same pigeonhole band scheme as
    * [[bandedHammingPairs]], but two-sided: the index is a standing corpus
    * fingerprint set, the probe an arrival batch — the incremental-dedup
    * gate shape (a stream-static-style equi-join on band keys, never a
    * probe×index scan).
    */
  def bandedHammingMatches(
      probe: DataFrame,
      index: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 32)")
    val bands = maxHamming + 1
    val bandWidth = 64 / bands
    def explBands(fp: String) =
      explode(array((0 until bands).map { b =>
        val width = if (b == bands - 1) 64 - b * bandWidth else bandWidth
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        struct(lit(b).as("band"),
          shiftright(col(fp), b * bandWidth).bitwiseAND(lit(mask)).as("bkey"))
      }: _*))
    val p = probe.select(col("doc_id"), col("fp"), explBands("fp").as("bb"))
      .select(col("doc_id"), col("fp"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val ix = index.select(col("fp").as("ifp"))
      .select(col("ifp"), explBands("ifp").as("bb"))
      .select(col("ifp"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    p.join(ix, Seq("band", "bkey"))
      .filter(bit_count(col("fp").bitwiseXOR(col("ifp"))) <= maxHamming)
      .select(col("doc_id")).distinct()
  }

  /** Collapse-then-band near-dup pairs — the dup-heavy-corpus scale path
    * the plain banding's SCALING analysis calls for: identical fingerprints
    * are first collapsed to one class row (representative = min doc_id,
    * member count), and the Hamming banding then runs over DISTINCT
    * fingerprints only. Members of one class are already known duplicates
    * (Hamming 0) without enumeration, so the quadratic-per-class pair
    * blow-up of a ~k-way-duplicated corpus never materializes; cross-class
    * edges come back weighted with `pair_count = members_a * members_b`,
    * the number of underlying document pairs each edge represents.
    * Output: `(rep_a, rep_b, hamming, pair_count)` with hamming in
    * [1, maxHamming] (0 is impossible between distinct fingerprints).
    *
    * `materializeClasses` lets a caller with an expensive fingerprint
    * subtree (a real codec decode per row) pin the collapsed class frame
    * before the band self-join consumes it twice — the persist belongs
    * HERE, after the groupBy, not on the raw fingerprints: the classes
    * frame is the smallest cut that covers both join branches, so one
    * decode AND one collapse shuffle serve the whole pair enumeration.
    */
  def collapsedHammingPairs(
      fps: DataFrame,
      maxHamming: Int,
      materializeClasses: DataFrame => DataFrame = identity): DataFrame = {
    val classes = materializeClasses(fps.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("members")))
    bandedPairs(classes, maxHamming, Seq("members"))
      .select(
        col("doc_a").as("rep_a"), col("doc_b").as("rep_b"), col("hamming"),
        (col("members_a") * col("members_b")).as("pair_count"))
  }

  /** (doc_id, sh, df): per-doc distinct word-k-gram hashes with the corpus
    * document frequency attached. df comes from a count-only window, not
    * groupBy+join-back: ONE explode pass and one shuffle on the 8-byte
    * hash key (the join formulation re-explodes the corpus for each side —
    * the two exchange subtrees differ by the partial aggregate, so AQE
    * cannot reuse the stage). Shared by the span-overlap signal and the
    * shared-span graph build ([[graft.operators.Centrality.docPagerank]]).
    */
  private[graft] def hashedShingleDf(documents: DataFrame, k: Int): DataFrame =
    shingles(documents, k)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .withColumn("df",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))

  /** Session-scoped cache of the CHECKPOINTED [[hashedShingleDf]] frame:
    * six centrality/graph queries derive their shared-span graph from
    * the same (doc_id, sh, df) frame over the same corpus — the
    * build-the-index-once pattern, [[PlanCache]] discipline.
    */
  private val shingleDfCache = new PlanCache[Int]()

  private[graft] def hashedShingleDfCached(
      documents: DataFrame, k: Int): DataFrame =
    shingleDfCache.getOrBuild(documents, k)(hashedShingleDf(documents, k))

  /** Cross-document duplicated n-gram fraction — the document-level signal of
    * the exact-substring-dedup family (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): for each document, what
    * fraction of its distinct word k-grams also occurs in at least one OTHER
    * document. Pair-free: unlike [[ngramJaccardPairs]] this never joins doc
    * against doc — corpus-wide document frequency per shingle
    * ([[hashedShingleDf]]: 8-byte hashed keys, map-side combined), so cost
    * is linear in total shingle volume regardless of how duplicated the
    * corpus is. Per-doc shingle sets are distinct (WordShingles), so
    * df == number of documents containing the shingle.
    */
  def crossDocNgramOverlap(documents: DataFrame, k: Int = 3): DataFrame = {
    hashedShingleDfCached(documents, k)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(when(col("df") >= 2, lit(1))).as("shared_shingles"))
      .select(
        col("doc_id"), col("n_shingles"), col("shared_shingles"),
        (col("shared_shingles") / col("n_shingles")).as("shared_fraction"))
      .orderBy(col("doc_id"))
  }
}
