package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix-array construction by PREFIX DOUBLING — the exact
  * substring-duplication primitive behind suffix-array corpus dedup
  * (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
  * Better", arXiv:2107.06499, which builds a suffix array over the
  * corpus to find verbatim repeated spans; distributed construction
  * follows the prefix-doubling family of Flick & Aluru, SC'15,
  * "Parallel distributed memory construction of suffix and longest
  * common prefix arrays").
  *
  * Suffixes live WITHIN documents (a training-dedup span never crosses a
  * document boundary); the ORDER is global across the corpus. Level
  * ranks r_b(i) order every suffix by its first b characters; doubling
  * combines (r_b(i), r_b(i + b) | 0 past end) into r_{2b}. The 0
  * end-sentinel sorts a proper prefix before its extensions, matching
  * binary string order ("ab" < "abc").
  *
  * Cost shape, and the two optimizations over naive doubling:
  *   - the BASE level ranks 8-char blocks directly (one distinct +
  *     global rank over substr(text, pos, 8)), skipping the three
  *     cheapest-but-jobful single-char rounds;
  *   - each doubling round needs only an EQUALITY-and-ORDER-preserving
  *     combine, not a dense rank — so rounds alternate between a pure
  *     ARITHMETIC encode r*(D+1)+r2 (a map-only projection over the
  *     per-doc `lead` window; valid while D^2 < 2^63, i.e. rank bound
  *     D < ~3e9) and a true densify ([[DistributedRank]] global rank
  *     over the distinct pair frame — range-partitioned, offset
  *     broadcast, never a single-partition window). Beyond ~3e9
  *     distinct ranks the encode step is skipped automatically and
  *     every round densifies — the 100-TB fallback is the plain
  *     algorithm, not an overflow.
  *
  * Rounds are bounded by ceil(log2(maxLen / 8)) + 1 (5 for the harness
  * corpus); each level is localCheckpointed so plan depth stays
  * constant. Rows = corpus CHARACTERS — the rank representation keeps
  * the O(n^2)-character suffix universe at O(n) rows per level, which
  * is the entire point; the brute-force alternative (sort all suffix
  * STRINGS) is exactly what the DuckDB oracle does at test scale.
  *
  * Character semantics: byte-wise ordering on ASCII text (the harness
  * corpus is verified ASCII; Spark UTF8String comparison and DuckDB's
  * default binary collation agree there).
  */
object SuffixArray {

  private val BaseBlock = 8L
  /** Encode r*(D+1)+r2 stays in a signed long while D < ~3e9. */
  private val MaxEncodableRank = 3000000000L

  /** Per-level rank frames (doc_id, pos [1-based], rem [suffix chars
    * remaining], r): `levels(i)` ranks by the first `blocks(i)` chars
    * (equality-exact; order-preserving). The last level is the full
    * suffix order. Every frame is localCheckpointed.
    */
  final case class Ranks(
      documents: DataFrame,
      levels: IndexedSeq[DataFrame],
      blocks: IndexedSeq[Long],
      n: Long, maxLen: Long,
      private val dupAtLastThunk: () => Boolean,
      /** the corpus passed the ASCII-and-no-NUL guard, so base ranks are
        * [[graft.functions.PackAscii]] longs (order/equality-exact, NOT
        * dense) and byte ops equal char ops on suffix strings — the gate
        * for the LRS candidate fast path.
        */
      asciiBase: Boolean = false,
      /** loop state at the last level, so a deeper request RESUMES the
        * doubling from here instead of rebuilding the whole chain (the
        * bench/driver pattern: split_contamination builds to 64 first,
        * then suffix_lrs asks for the full chain).
        */
      private[graft] val dBoundAtLast: Long = 0L,
      private[graft] val distinctKnownAtLast: Long = 0L) {
    /** duplicates (rem-filtered, cnt >= 2) exist at the LAST level's
      * block — false means the chain stopped because LRS < last block
      * (no deeper level can ever be probed), true means it stopped at
      * the maxLen bound. Lazily evaluated: builds whose caller never
      * probes past the stop block (e.g. [[suffixArrayHead]]'s base-only
      * build) skip the grouped-count job entirely.
      */
    lazy val dupAtLast: Boolean = dupAtLastThunk()
    /** [[suffixArrayHead]]'s k-th-distinct-rank thresholds, memoized on
      * the cached index (derived data, same lifetime as the levels).
      */
    private[graft] val headThresholds =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  }

  /** Session-scoped Ranks cache: the suffix index is derived once per
    * corpus and consumed by several span queries (head, LRS,
    * contamination, span plans) — exactly the production pattern of
    * "build the index once, run span queries against it". Keyed by
    * [[PlanCache.planKey]] (LocalRelations bypass), computed outside the
    * lock, evicted wholesale at [[PlanCache.Bound]] like a [[PlanCache]];
    * not one itself, because an unsatisfying entry is resumed rather
    * than rebuilt. Value = (stopBlock the build was requested with, the
    * Ranks).
    */
  private val ranksCache =
    scala.collection.mutable.Map.empty[(String, String, String), (Long, Ranks)]

  /** A cached build serves a request iff it was built at least as deep
    * (builtStop >= requested), or its chain terminated for a reason a
    * deeper build could not change: the maxLen stop (blocks.last·2 >
    * maxLen — the chain is already complete) or duplicates exhausted
    * (!dupAtLast — LRS < last block, so every deeper probe is provably
    * empty and [[sharedPrefixGroups]] returns empty from the duplicate-
    * free last level).
    */
  private def satisfies(builtStop: Long, r: Ranks, requested: Long): Boolean =
    builtStop >= requested || r.blocks.last * 2 > r.maxLen || !r.dupAtLast

  /** Cached entry point: [[computeBuild]] behind the session-scoped
    * [[ranksCache]].
    */
  def build(documents: DataFrame, stopBlock: Long = Long.MaxValue): Ranks = {
    val key = PlanCache.planKey(documents) match {
      case Some(k) => k
      case None => return computeBuild(documents, stopBlock)
    }
    ranksCache.synchronized(ranksCache.get(key)) match {
      case Some((builtStop, r)) if satisfies(builtStop, r, stopBlock) => r
      case other =>
        // an UNSATISFYING same-corpus entry is a stop-bounded prefix of
        // the chain we need: resume the doubling from its last level
        // instead of rebuilding from the corpus (its levels become the
        // head of the new chain — shared references, so eviction below
        // must never free a frame the new chain still holds)
        val resume = other.map(_._2)
        val computed = computeBuild(documents, stopBlock, resume)
        val live = computed.levels.toSet // reference identity: shared prefix
        ranksCache.synchronized {
          // a concurrent build may have landed a satisfying entry: keep
          // it, free OUR discarded levels (nobody has seen them, except
          // any prefix resumed from the published entry)
          ranksCache.get(key) match {
            case Some((builtStop, r)) if satisfies(builtStop, r, stopBlock) =>
              val published = r.levels.toSet ++ resume.map(_.levels.toSet)
                .getOrElse(Set.empty[DataFrame])
              computed.levels.filterNot(published).foreach(PlanCache.freeCheckpoint)
              r
            case replaced =>
              if (ranksCache.size >= PlanCache.Bound) {
                ranksCache.valuesIterator
                  .foreach(_._2.levels.filterNot(live).foreach(PlanCache.freeCheckpoint))
                ranksCache.clear()
              } else replaced.foreach(
                _._2.levels.filterNot(live).foreach(PlanCache.freeCheckpoint))
              ranksCache.update(key, (stopBlock, computed))
              computed
          }
        }
    }
  }

  /** Run prefix doubling to completion (or to `stopBlock`, for callers
    * that only ever probe a fixed prefix length). Driver loop is
    * bounded by log2(maxLen) rounds; the only driver-side data are
    * per-round scalar counts.
    */
  private def computeBuild(
      documents: DataFrame, stopBlock: Long = Long.MaxValue,
      resumeFrom: Option[Ranks] = None): Ranks = {
    val spark = documents.sparkSession
    resumeFrom.foreach { r =>
      // the cached chain is a stop-bounded PREFIX of the one requested:
      // re-enter the doubling loop with its recorded state — its levels
      // (shared references) become the head of the new chain, and the
      // corpus is never re-exploded
      return runDoubling(documents, stopBlock, r.n, r.maxLen, r.asciiBase,
        r.levels, r.blocks, r.dBoundAtLast, r.distinctKnownAtLast)
    }
    // corpus stats + the ASCII guard in ONE pass over the (small) document
    // frame — the old code materialized the full character frame first
    // just to count it. asciiOk = every char is a single byte (so byte
    // ops == char ops) and no NUL (so PackAscii's 0 pad is below every
    // real byte); on any other corpus the base level falls back to the
    // exact string-rank path below.
    val statsRow = documents.filter(length(col("text")) >= 1).agg(
      coalesce(sum(length(col("text")).cast("long")), lit(0L)),
      coalesce(max(length(col("text")).cast("long")), lit(0L)),
      coalesce(min((octet_length(col("text")) === length(col("text")) &&
        !col("text").contains(lit("\u0000"))).cast("int")), lit(1))).head()
    val n = statsRow.getLong(0)
    val maxLen = statsRow.getLong(1)
    val asciiOk = statsRow.getInt(2) == 1
    val base = documents
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"),
        explode(sequence(lit(1), length(col("text")))).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        (col("len") - col("pos") + 1).cast("long").as("rem"),
        expr(s"substr(text, pos, $BaseBlock)").as("b8"))
    // Every level is checkpointed hash-partitioned by doc_id and sorted
    // by (doc_id, pos): localCheckpoint preserves the physical plan's
    // outputPartitioning/outputOrdering into the LogicalRDD, so the
    // per-doc `lead` windows — one per doubling round AND one per LRS
    // bisection probe (sharedPrefixGroups) — need no Exchange and no
    // Sort. Before this, each of the ~log2(LRS) probes re-shuffled and
    // re-sorted the full character frame (suffix_lrs alone moved ~400 MB
    // of shuffle at sf0.1; at corpus scale the probe cost was
    // rounds×(shuffle+sort) instead of rounds×map).
    // AQE must be OFF while the checkpoint materializes: the repartition
    // inserts an Exchange, AQE wraps the whole plan in
    // AdaptiveSparkPlanExec, and the LogicalRDD capture then sees
    // UnknownPartitioning/no ordering — the layout is physically there
    // but invisible to downstream planning, so every window still
    // re-shuffles (measured: identical 406 MB with/without the
    // repartition under AQE). Scoped to the materialization only and
    // restored in finally; the consumers of the checkpoint run under
    // whatever AQE setting the session has.
    def docClustered(df: DataFrame): DataFrame = {
      val aqeKey = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(aqeKey, "true")
      spark.conf.set(aqeKey, "false")
      try df
        .repartition(col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("pos"))
        .localCheckpoint()
      finally spark.conf.set(aqeKey, prev)
    }
    // base level: ranks of the 8-char blocks (substr of a short suffix is
    // the full suffix — equality and order match the sentinel semantics:
    // a proper prefix sorts before its extensions). On an ASCII corpus
    // the rank is [[PackAscii]] — a MAP-ONLY order/equality-preserving
    // 56-bit encode, replacing the old distinct + global string rank +
    // string join (the single heaviest cold-build stage: ~300 MB shuffled
    // at sf0.1 to rank 1.5M 8-char strings). The packed rank is NOT
    // dense; dBound = 2^56 forces the first doubling round to densify,
    // which the alternation would have done one round later anyway.
    var cur: DataFrame = null
    var dBound = 0L
    var distinctKnown = 0L // == n terminates (all suffixes resolved)
    if (asciiOk) {
      cur = docClustered(base.select(col("doc_id"), col("pos"), col("rem"),
        graft.functions.GraftColumns.packAscii(col("b8")).as("r")))
      dBound = 1L << 56 // value bound, not a count: forces densify next
      distinctKnown = 0L // unknown until the first densify
    } else {
      val checkpointedBase = base.localCheckpoint()
      val blockRank = DistributedRank.withGlobalRank(
        checkpointedBase.select(col("b8")).distinct(), Seq(col("b8")), rankCol = "r")
      cur = docClustered(checkpointedBase.join(blockRank, Seq("b8"))
        .select(col("doc_id"), col("pos"), col("rem"), col("r")))
      dBound = blockRank.count() // exact distinct count (dense rank)
      DistributedRank.release(spark)
      PlanCache.freeCheckpoint(checkpointedBase)
      distinctKnown = dBound
    }
    runDoubling(documents, stopBlock, n, maxLen, asciiOk,
      IndexedSeq(cur), IndexedSeq(BaseBlock), dBound, distinctKnown)
  }

  /** The doubling loop proper, entered either fresh (one base level) or
    * as a RESUME of a cached stop-bounded chain (its levels/blocks and
    * recorded loop state). Shared verbatim between the two entries so
    * resume cannot drift from the from-scratch semantics.
    */
  private def runDoubling(
      documents: DataFrame, stopBlock: Long,
      n: Long, maxLen: Long, asciiOk: Boolean,
      initLevels: IndexedSeq[DataFrame], initBlocks: IndexedSeq[Long],
      dBound0: Long, distinctKnown0: Long): Ranks = {
    val spark = documents.sparkSession
    def docClustered(df: DataFrame): DataFrame = {
      val aqeKey = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(aqeKey, "true")
      spark.conf.set(aqeKey, "false")
      try df
        .repartition(col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("pos"))
        .localCheckpoint()
      finally spark.conf.set(aqeKey, prev)
    }
    var cur = initLevels.last
    var dBound = dBound0
    var distinctKnown = distinctKnown0
    // duplicate check at the current block: two suffixes (rem >= b)
    // sharing a rank == a repeated b-char substring exists. The moment
    // this turns false the chain STOPS — LRS < b, so no deeper level is
    // ever probed (LRS-driven early termination; for a corpus whose
    // longest repeat is r, the chain costs log2(r), not log2(maxLen),
    // rounds).
    def hasDup(lev: DataFrame, b: Long): Boolean =
      !lev.filter(col("rem") >= b).groupBy(col("r"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2).isEmpty
    val levels = scala.collection.mutable.ArrayBuffer(initLevels: _*)
    val blocks = scala.collection.mutable.ArrayBuffer(initBlocks: _*)
    var block = initBlocks.last
    // hasDup of the current last level, evaluated only when the block
    // bound would allow another round — base-only builds (stopBlock =
    // BaseBlock) and the final maxLen-stopped level skip the grouped-
    // count job; Ranks.dupAtLast computes it lazily if a caller probes.
    var lastDup: Option[Boolean] = None
    // the maxLen stop: once 2*block > maxLen, a probe at l <= maxLen
    // only ever uses the largest block <= l, and the dyadic chain
    // already guarantees 2*block > l there
    while (block * 2 <= math.min(maxLen, stopBlock) && distinctKnown < n
        && { val d = hasDup(cur, block); lastDup = Some(d); d }) {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val paired = cur
        .withColumn("r2", coalesce(lead(col("r"), block.toInt).over(w), lit(0L)))
      if (dBound <= MaxEncodableRank) {
        // map-only combine: equality/order-preserving, no shuffle — and
        // the projection preserves the doc-clustered layout, so this
        // checkpoint inherits it with no repartition at all
        cur = paired
          .select(col("doc_id"), col("pos"), col("rem"),
            (col("r") * (dBound + 1L) + col("r2")).as("r"))
          .localCheckpoint()
        dBound = dBound * (dBound + 2L)
        // distinctKnown unknown on encoded rounds; next densify learns it
      } else {
        val pairRank = DistributedRank.withGlobalRank(
          paired.select(col("r"), col("r2")).distinct(),
          Seq(col("r"), col("r2")), rankCol = "nr")
        // the (r, r2) join destroys the doc clustering; restore it here
        // once (the next round's window would have paid this exact
        // shuffle+sort anyway — doing it before the checkpoint makes it
        // one-time instead of per-consumer)
        cur = docClustered(paired.join(pairRank, Seq("r", "r2"))
          .select(col("doc_id"), col("pos"), col("rem"), col("nr").as("r")))
        DistributedRank.release(spark)
        dBound = cur.agg(max(col("r"))).head().getLong(0) // dense => max==count
        distinctKnown = dBound
      }
      block *= 2
      levels += cur
      blocks += block
      lastDup = None
    }
    val (lastLevel, lastBlock, known) = (cur, block, lastDup)
    Ranks(documents, levels.toIndexedSeq, blocks.toIndexedSeq, n, maxLen,
      () => known.getOrElse(hasDup(lastLevel, lastBlock)), asciiBase = asciiOk,
      dBoundAtLast = dBound, distinctKnownAtLast = distinctKnown)
  }

  /** The head of the suffix array: the `k` lexicographically smallest
    * suffixes as (suffix_rank [dense], doc_id, pos) — ties (equal full
    * suffixes) share a rank and order by (doc_id, pos).
    *
    * Top-k does NOT need the full doubling chain: a suffix can only
    * reach the global top-k if its 8-char block rank is <= k (each
    * distinct block contributes >= 1 suffix), and that candidate set is
    * DOWNWARD-CLOSED in suffix order (anything smaller than a candidate
    * has a smaller-or-equal block rank), so dense ranks computed within
    * it equal the global dense ranks for the head. One block-rank pass
    * prunes the corpus to O(k) blocks' worth of suffixes; only those
    * few materialize their suffix STRINGS for the final exact ordering.
    * ([[longestRepeatedSubstring]] is the query that exercises the full
    * doubling chain; this one exercises the base ranking + the pruning
    * argument.)
    */
  def suffixArrayHead(documents: DataFrame, k: Int = 100): DataFrame = {
    // the base level's r orders the 8-char blocks (dense on the string-
    // rank fallback, PackAscii-encoded on ASCII corpora), so the shared
    // (cached) base-only build replaces the standalone distinct+rank
    // pass; only the k smallest DISTINCT blocks' suffixes rejoin
    // `documents` to materialize their suffix strings. The threshold (the
    // k-th smallest distinct r) is one TakeOrdered job — on a dense base
    // it equals k, so this is the same candidate set as the old
    // `r <= k` filter, now valid for the non-dense packed base too.
    val ranks = build(documents, stopBlock = BaseBlock)
    val kthVal: Long = Option(ranks.headThresholds.get(k))
      .map(_.longValue).getOrElse {
        val row = ranks.levels(0).select(col("r")).distinct()
          .orderBy(col("r")).limit(k)
          .agg(max(col("r"))).head()
        val v = if (row.isNullAt(0)) Long.MinValue else row.getLong(0)
        ranks.headThresholds.put(k, v)
        v
      }
    if (kthVal == Long.MinValue) {
      val spark = documents.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Long)].toDF("suffix_rank", "doc_id", "pos")
    }
    val cand = ranks.levels(0)
      .filter(col("r") <= kthVal)
      .join(documents.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr("substr(text, CAST(pos AS INT))").as("s"))
      .localCheckpoint() // bounded: <= k distinct blocks' suffixes
    val strRank = DistributedRank.withGlobalRank(
      cand.select(col("s")).distinct(), Seq(col("s")), rankCol = "suffix_rank")
    val out = cand.join(strRank, Seq("s"))
      .select(col("suffix_rank"), col("doc_id"), col("pos"))
      .orderBy(col("suffix_rank"), col("doc_id"), col("pos"))
      .limit(k)
      .localCheckpoint()
    DistributedRank.release(documents.sparkSession)
    out
  }

  /** Grouped frame of suffixes (rem >= l) sharing their first `l`
    * characters, >= 2 members per group: (cnt, m = min (doc_id, pos)).
    * For l below the base block the groups come straight from
    * substr(text, pos, l); otherwise from the level rank pair
    * (r_b(i), r_b(i + l - b)) with b the largest block <= l — the two
    * b-blocks overlap-cover [0, l) since the dyadic chain gives 2b > l.
    * (If doubling terminated early with all ranks distinct, larger-l
    * probes correctly return empty: a shared-l-prefix pair would have
    * collided at the distinct level.)
    */
  private def sharedPrefixGroups(ranks: Ranks, l: Long): DataFrame = {
    require(l >= 1 && l <= ranks.maxLen)
    val grouped =
      if (l < BaseBlock) {
        ranks.documents
          .filter(length(col("text")) >= l)
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(1), length(col("text")) - lit(l) + 1))
              .as("pos"))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            expr(s"substr(text, pos, $l)").as("v1"), lit(0L).as("v2"))
      } else {
        val i = ranks.blocks.lastIndexWhere(_ <= l)
        val b = ranks.blocks(i)
        val lev = ranks.levels(i)
        val off = (l - b).toInt
        if (off == 0)
          lev.filter(col("rem") >= l)
            .select(col("doc_id"), col("pos"),
              col("r").as("v1"), col("r").as("v2"))
        else {
          val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          lev.withColumn("v2", lead(col("r"), off).over(w))
            .filter(col("rem") >= l)
            .select(col("doc_id"), col("pos"), col("r").as("v1"), col("v2"))
        }
      }
    grouped
      .groupBy(col("v1"), col("v2"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("m"))
      .filter(col("cnt") >= 2)
  }

  /** Exact longest repeated substring over the corpus: binary search on
    * the length using [[sharedPrefixGroups]] (log2(maxLen) existence
    * probes, each one grouped count over the character frame — no
    * suffix strings, no quadratic pair scan), then one final pass at
    * the maximum for the witness row:
    * (lrs_len, n_suffixes [members of any >= 2 group at lrs_len],
    *  witness_doc_id, witness_pos [smallest such suffix]).
    * Precondition: some character repeats (any real corpus), so
    * lrs_len >= 1.
    */
  /** Candidate-set size cap for the LRS fast path (members) and a byte
    * budget for their capped suffix strings: above either, fall back to
    * the bisection probes (same answer, bounded memory). The fast path's
    * cost is candidates x cap bytes, NOT corpus size — the scale lever.
    */
  private val MaxLrsCandidates = 2000000L
  private val LrsByteBudget = 1L << 30

  def longestRepeatedSubstring(documents: DataFrame): DataFrame = {
    val ranks = build(documents)
    // ---- candidate fast path ----------------------------------------
    // Let B be the deepest block where duplicates are KNOWN to exist
    // (the chain advanced past it, or dupAtLast says so). LRS >= B, and
    // every suffix participating in ANY length->=B repeat has a
    // DUPLICATED rank at level B (equal l-prefixes, l >= B, imply equal
    // B-prefixes imply equal level-B ranks). So the members of
    // duplicated level-B rank groups are a complete candidate set, and
    // they are downward-closed under "between two candidates in suffix
    // order" (a sorted sandwich shares the bounding pair's prefix), so
    // max-adjacent-LCP WITHIN the candidates equals the global LRS.
    // That replaces ~log2(maxLen - B) full-corpus bisection probes
    // (each a window + n-row groupBy) with one dup-group pass plus
    // string work proportional to |candidates| — 672 rows at sf0.1 vs
    // 1.49M-row probes. Byte-LCP == char-LCP only on ASCII (asciiBase
    // gate); candidate blowup (dup-heavy corpora) falls back to the
    // bisection below, which stays the 100-TB worst-case path.
    if (ranks.asciiBase) {
      val spark = documents.sparkSession
      def dupPass(i: Int): (DataFrame, Long) = {
        val lev = ranks.levels(i).filter(col("rem") >= ranks.blocks(i))
        val keys = lev.groupBy(col("r"))
          .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
          .select(col("r"), col("cnt")).localCheckpoint()
        (keys, keys.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0))
      }
      // probe the LAST level first: a non-empty dup pass there IS the
      // dupAtLast answer (no separate lazy hasDup job); empty means the
      // chain stopped on "no dup at last", so duplicates are KNOWN one
      // level up (the loop advanced past it)
      val (lastKeys, nLast) = dupPass(ranks.blocks.size - 1)
      val (fastDepth, dupKeys, nCand) =
        if (nLast > 0) (ranks.blocks.size - 1, lastKeys, nLast)
        else if (ranks.blocks.size >= 2) {
          PlanCache.freeCheckpoint(lastKeys)
          val (k2, n2) = dupPass(ranks.blocks.size - 2)
          (ranks.blocks.size - 2, k2, n2)
        } else { PlanCache.freeCheckpoint(lastKeys); (-1, lastKeys, 0L) }
      val b = if (fastDepth >= 0) ranks.blocks(fastDepth) else 1L
      var cap = math.min(ranks.maxLen, math.max(2 * b, 64L))
      if (fastDepth >= 0 && nCand > 0 && nCand <= MaxLrsCandidates &&
          nCand * cap <= LrsByteBudget) {
        val lev = ranks.levels(fastDepth).filter(col("rem") >= b)
        val cands = lev.join(dupKeys.select(col("r")), Seq("r"), "left_semi")
          .join(documents.select(col("doc_id"), col("text")), Seq("doc_id"))
        def cappedCands(c: Long): DataFrame =
          cands.select(col("r"), col("doc_id"), col("pos"),
              expr(s"substr(text, CAST(pos AS INT), $c)").as("s"))
            .localCheckpoint()
        var cf = cappedCands(cap)
        def lrsOf(cf: DataFrame): Long = {
          // The pair achieving the LRS shares its B-prefix, so it lives
          // INSIDE one dup group — and the sorted-sandwich argument keeps
          // every intermediate suffix in that group too. Max adjacent
          // LCP per group == global LRS, so a window PARTITIONED BY the
          // group key replaces any global sort: no single-partition
          // exchange, one tiny shuffle of the candidate rows. Equal
          // strings are adjacent in the group (LCP = full length), so
          // verbatim duplicates need no separate pass.
          val w = Window.partitionBy(col("r"))
            .orderBy(col("s"), col("doc_id"), col("pos"))
          cf.select(graft.functions.GraftColumns
              .asciiCommonPrefixLen(col("s"), lead(col("s"), 1).over(w)).as("v"))
            .agg(coalesce(max(col("v")), lit(0L))).head().getLong(0)
        }
        var lrs = lrsOf(cf)
        var blown = false
        // lrs == cap cannot distinguish "exactly cap" from "longer":
        // re-materialize with a larger cap (geometric, still within the
        // byte budget or we bail to the bisection)
        while (lrs >= cap && cap < ranks.maxLen && !blown) {
          PlanCache.freeCheckpoint(cf)
          cap = math.min(ranks.maxLen, cap * 4)
          if (nCand * cap > LrsByteBudget) blown = true
          else { cf = cappedCands(cap); lrs = lrsOf(cf) }
        }
        if (!blown) {
          // final frame from the same candidate rows: every member of a
          // >=2 group at lrs chars is a candidate (same argument as
          // above), so group the capped strings by their lrs-prefix.
          // Members shorter than lrs cannot join an lrs-group (their
          // whole string is shorter — a different value) and are
          // filtered like the oracle's length(s) >= lrs_len.
          val out = cf
            .filter(length(col("s")) >= lrs)
            .groupBy(expr(s"substr(s, 1, $lrs)").as("p"))
            .agg(count(lit(1)).as("cnt"),
              min(struct(col("doc_id"), col("pos"))).as("m"))
            .filter(col("cnt") >= 2)
            .agg(sum(col("cnt")).as("n_suffixes"), min(col("m")).as("mm"))
            .select(lit(lrs).as("lrs_len"), col("n_suffixes"),
              col("mm.doc_id").as("witness_doc_id"),
              col("mm.pos").as("witness_pos"))
          return out
        }
      }
    }
    // ---- bisection fallback (exact same answer; also the non-ASCII
    // and candidate-blowup path) ---------------------------------------
    def exists(l: Long): Boolean =
      !sharedPrefixGroups(ranks, l).isEmpty
    // the build already bracketed the answer: every level up to the
    // second-to-last has duplicates (so exists(block) held), and either
    // the LAST block does not (LRS in [prevBlock, lastBlock)) or the
    // chain hit the maxLen stop (LRS in [lastBlock, maxLen]); only the
    // remaining interval is bisected with lead-window probes
    var lo = 1L // assumed feasible (repeated character)
    var hi = ranks.maxLen + 1 // exclusive upper bound
    if (ranks.dupAtLast) {
      lo = ranks.blocks.last
      if (exists(ranks.maxLen)) lo = ranks.maxLen
      else hi = ranks.maxLen
    } else {
      if (ranks.blocks.size >= 2) lo = ranks.blocks(ranks.blocks.size - 2)
      hi = math.min(ranks.blocks.last, ranks.maxLen + 1)
    }
    while (lo + 1 < hi) { // invariant: exists(lo), !exists(hi)
      val mid = (lo + hi) / 2
      if (exists(mid)) lo = mid else hi = mid
    }
    sharedPrefixGroups(ranks, lo).agg(
      sum(col("cnt")).as("n_suffixes"),
      min(col("m")).as("mm"))
      .select(lit(lo).as("lrs_len"), col("n_suffixes"),
        col("mm.doc_id").as("witness_doc_id"),
        col("mm.pos").as("witness_pos"))
  }

  /** Cross-split VERBATIM contamination at `l`-character granularity —
    * the decontamination check of Lee et al. 2021 §4 applied to the
    * repo's own content-hash split rule (doc_splits: rollingHash(text)
    * % 100 → 80/10/10): for every TEST document, count its suffixes
    * (rem >= l) whose first l characters also open a suffix of some
    * train/val document. Exact, not sketched: equality of block-l
    * ranks IS equality of the l-char prefix (both blocks full under
    * the rem filter).
    *
    * Output: (doc_id [test], n_suffixes [contaminated positions],
    * n_prefixes [distinct shared l-grams]), ordered by doc_id.
    * `l` must be a dyadic block (8·2^k); the build stops at that block
    * — log2(l/8) rounds, never the full chain. If the corpus has no
    * repeated l/2-prefix at all the chain stops early and the result
    * is correctly empty.
    */
  def splitContamination(documents: DataFrame, l: Long = 64L): DataFrame = {
    require(l >= BaseBlock && java.lang.Long.bitCount(l / BaseBlock) == 1
      && l % BaseBlock == 0, s"l must be ${BaseBlock}*2^k")
    val ranks = build(documents, stopBlock = l)
    val bucket = graft.functions.GraftColumns.rollingHash(col("text")) % 100
    val split = when(bucket < 80, "train").when(bucket < 90, "val")
      .otherwise("test")
    val splits = documents.select(col("doc_id"), split.as("split"))
    val i = ranks.blocks.lastIndexWhere(_ <= l)
    if (ranks.blocks(i) != l) {
      // duplicate-free below l: nothing can be contaminated at l
      val spark = documents.sparkSession
      import spark.implicits._
      Seq.empty[(Long, Long, Long)]
        .toDF("doc_id", "n_suffixes", "n_prefixes")
    } else {
      val lev = ranks.levels(i).filter(col("rem") >= l)
        .join(splits, Seq("doc_id"))
      val corpusPre = lev.filter(col("split") =!= "test")
        .select(col("r")).distinct()
      lev.filter(col("split") === "test")
        .join(corpusPre, Seq("r"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_suffixes"),
          countDistinct(col("r")).as("n_prefixes"))
        .orderBy(col("doc_id"))
    }
  }

  /** DuckDB replay of [[splitContamination]]: substr l-grams grouped
    * directly, split assignment via the doc_splits list_reduce hash.
    */
  def splitContaminationOracleSql(l: Long = 64L): String =
    s"""WITH f AS (
      |  SELECT doc_id, text,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (
      |    SELECT doc_id, text,
      |      list_reduce(
      |        list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(1, length(text) + 1),
      |                         i -> CAST(ascii(text[i]) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007) % 100 AS b
      |    FROM documents)),
      |p AS (
      |  SELECT doc_id, split,
      |    unnest(list_transform(range(1, length(text) - ${l - 1} + 1),
      |      i -> substr(text, CAST(i AS INT), $l))) AS pre
      |  FROM f WHERE length(text) >= $l),
      |corpus AS (
      |  SELECT DISTINCT pre FROM p WHERE split <> 'test')
      |SELECT p.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_suffixes,
      |  CAST(count(DISTINCT p.pre) AS BIGINT) AS n_prefixes
      |FROM p JOIN corpus USING (pre)
      |WHERE p.split = 'test'
      |GROUP BY 1
      |ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[suffixArrayHead]]: materialize every suffix
    * STRING and sort — the brute-force formulation the rank chain
    * avoids, which is exactly what makes it an independent oracle.
    */
  def suffixArrayHeadOracleSql(k: Int = 100): String =
    s"""WITH p AS (
      |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS pos
      |  FROM documents WHERE length(text) >= 1),
      |sfx AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    substr(text, CAST(pos AS INT)) AS s
      |  FROM p)
      |SELECT CAST(dense_rank() OVER (ORDER BY s) AS BIGINT) AS suffix_rank,
      |  doc_id, pos
      |FROM sfx
      |ORDER BY suffix_rank, doc_id, pos
      |LIMIT $k""".stripMargin

  /** DuckDB replay of [[longestRepeatedSubstring]]: adjacent-LCP over
    * the sorted suffix strings (max adjacent LCP == max pairwise shared
    * prefix, the defining suffix-array property), then one group-by on
    * the lrs_len-prefix.
    */
  def lrsOracleSql: String =
    """WITH p AS (
      |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS pos
      |  FROM documents WHERE length(text) >= 1),
      |sfx AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    substr(text, CAST(pos AS INT)) AS s
      |  FROM p),
      |srt AS (
      |  SELECT s, lead(s) OVER (ORDER BY s, doc_id, pos) AS s2 FROM sfx),
      |lcps AS (
      |  -- array_position yields 0/NULL (version-dependent) when no
      |  -- mismatch exists => the common prefix is the full min length
      |  SELECT CASE WHEN s2 IS NULL THEN 0
      |    WHEN COALESCE(array_position(list_transform(
      |        range(1, least(length(s), length(s2)) + 1),
      |        j -> substr(s, CAST(j AS INT), 1)
      |           = substr(s2, CAST(j AS INT), 1)), false), 0) = 0
      |      THEN least(length(s), length(s2))
      |    ELSE array_position(list_transform(
      |        range(1, least(length(s), length(s2)) + 1),
      |        j -> substr(s, CAST(j AS INT), 1)
      |           = substr(s2, CAST(j AS INT), 1)), false) - 1
      |    END AS lcp
      |  FROM srt),
      |mx AS (SELECT CAST(max(lcp) AS BIGINT) AS lrs_len FROM lcps),
      |grp AS (
      |  SELECT substr(s, 1, (SELECT CAST(lrs_len AS INT) FROM mx)) AS pre,
      |    doc_id, pos
      |  FROM sfx WHERE length(s) >= (SELECT lrs_len FROM mx)),
      |big AS (SELECT pre FROM grp GROUP BY pre HAVING count(*) >= 2),
      |mem AS (SELECT g.doc_id, g.pos FROM grp g JOIN big USING (pre))
      |SELECT m.lrs_len,
      |  (SELECT CAST(count(*) AS BIGINT) FROM mem) AS n_suffixes,
      |  w.doc_id AS witness_doc_id, w.pos AS witness_pos
      |FROM mx m,
      |  (SELECT doc_id, pos FROM mem ORDER BY doc_id, pos LIMIT 1) w""".stripMargin
}
