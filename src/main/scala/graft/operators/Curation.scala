package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end curation funnel — the reference pipeline's PURPOSE
  * expressed as one auditable query: ingest → language-ID gate → quality
  * gate → exact dedup → cross-doc span dedup → mixture sample, with
  * per-stage document and token counts. Every stage applies to the
  * PREVIOUS stage's survivors, so the output reads as the loss curve a
  * curation run reports before training.
  *
  * Each stage reuses the already-oracled primitive (langId's marker argmax,
  * docStats' quality score, md5 keep-lowest-id, crossDocNgramOverlap's
  * shared fraction, the fnv+mix64 content-keyed mixture gate), and the
  * whole funnel has a single machine-generated DuckDB oracle
  * (graft.SketchOracles.funnelSql) that chains the same stages as CTEs.
  *
  * Scale shape: a linear pipeline of the component shapes — per-row gates
  * (lang, quality, sample), one 16-byte-digest window (exact dedup), and
  * the pair-free shingle-df join (span dedup). Six aggregate rows out.
  */
object Curation {

  /** Curriculum ordering (Bengio et al., ICML 2009): easy-first training
    * order with round-robin source interleaving, so no source clumps at
    * any difficulty phase. Difficulty proxy = document length; the
    * curriculum KEY is (phase, source) where phase = the doc's easy-rank
    * WITHIN its source — a training loader range-partitions on that key,
    * and the global sort is never materialized (this report emits the
    * head via TakeOrderedAndProject). One source-keyed window shuffle;
    * no global window.
    */
  def curriculumOrder(documents: DataFrame, take: Int = 100): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    documents
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("phase", row_number().over(bySource))
      .orderBy(col("phase"), col("source"), col("doc_id"))
      .limit(take)
  }

  /** Quality score column — MUST stay aligned with TextAnalysis.docStats
    * (and its oracle fragment): length, lexical diversity, stopword mass.
    */
  private[graft] def qualityScore(toks: Column, stopwords: Seq[String]): Column = {
    val tokenCount = size(toks).cast("long")
    val distinctTokens = size(array_distinct(toks)).cast("long")
    val stopCount = size(filter(toks, t => t.isin(stopwords: _*))).cast("long")
    least(tokenCount / lit(50.0), lit(1.0)) * lit(0.5) +
      (distinctTokens / tokenCount) * lit(0.3) +
      (stopCount / tokenCount) * lit(0.2)
  }

  /** Language prediction column — MUST stay aligned with
    * TextAnalysis.langId's marker-count argmax and priority order.
    */
  private[graft] def langPred(toks: Column): Column = {
    def hits(lang: String): Column =
      size(filter(toks, t =>
        t.isin(graft.functions.TextAnalysis.langMarkers(lang): _*))).cast("long")
    val (en, de, fr, es) = (hits("en"), hits("de"), hits("fr"), hits("es"))
    when(en > 0 && en >= de && en >= fr && en >= es, "en")
      .when(de > 0 && de >= fr && de >= es, "de")
      .when(fr > 0 && fr >= es, "fr")
      .when(es > 0, "es")
      .otherwise("und")
  }

  /** `spanK` = 8: the span-dedup stage flags documents whose LONG (8-gram)
    * spans are mostly seen elsewhere — on this corpus 3-grams from the
    * 31-word vocabulary are all shared once the corpus is big enough
    * (every doc's fraction → 1 at sf0.1, gate degenerates), while 8-gram
    * sharing isolates the genuinely duplicated ~9% at every scale.
    */
  def funnel(
      documents: DataFrame,
      stopwords: Seq[String],
      qualityMin: Double = 0.5,
      spanMax: Double = 0.95,
      spanK: Int = 8,
      rates: Map[String, Double] = Mixture.DriverRates,
      defaultRate: Double = Mixture.DriverDefaultRate,
      persistThresholdBytes: Long = 1L << 30): DataFrame = {
    val toks = split(col("text"), " ")
    // Stage membership as cumulative per-row FLAGS over ONE scan (not six
    // recomputed subtrees): stages 0-3 need the scan and the dedup window
    // only; the span stage needs its survivor-scoped document-frequency
    // join, so stages 4-5 fold over that second (much smaller) frame.
    val base0 = documents
      .select(col("doc_id"), col("source"), col("text"),
        size(toks).cast("long").as("tokens"),
        (langPred(toks) =!= "und").as("lang_ok"),
        qualityScore(toks, stopwords).as("qs"))
      .withColumn("quality_ok", col("lang_ok") && col("qs") >= qualityMin)
      // exact dedup among quality survivors: lowest surviving doc_id per
      // content digest wins (non-survivors are transparent to the window)
      .withColumn("exact_ok", col("quality_ok") &&
        col("doc_id") === min(when(col("quality_ok"), col("doc_id")))
          .over(Window.partitionBy(md5(col("text")))))
    // Gate on estimated SCAN SIZE (optimizer statistics — file bytes for
    // file-backed corpora, cached-plan stats for in-memory ones), not file
    // count: file count anti-correlates with cost (500 huge files on a
    // 1024-core cluster is "narrow" by count but very expensive to scan
    // three times; a cached generator frame has zero files but cheap
    // cache-backed recompute). Threshold: recompute under ~1 GiB costs
    // less than materializing the cache (measured +1.1 s at the 5 MB
    // local scale); above it the two avoided scans dominate.
    //
    // `base` feeds three plan branches — the stage-0-3 aggregate, the
    // span-df derivation, and the stage-4-5 join — and the branches prune
    // different columns below the dedup-window exchange, so ReuseExchange
    // cannot collapse them. A persisted wide `base` stays pinned in the
    // [[PlanCache]] registry (one per session) until the next funnel call.
    val scanBytes = documents.queryExecution.optimizedPlan.stats.sizeInBytes
    val base =
      if (scanBytes >= persistThresholdBytes) {
        PlanCache.replacePins(documents.sparkSession, this)(Seq(
          base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))).head
      } else {
        // lifecycle still holds on the recompute path: a narrow funnel
        // call must not leave a PREVIOUS wide call's frame pinned
        PlanCache.releasePins(documents.sparkSession, this)
        base0
      }

    def stageRow(id: Int, name: String, docsCol: Column, toksCol: Column) =
      struct(lit(id).as("stage_id"), lit(name).as("stage"),
        docsCol.as("docs"), coalesce(toksCol, lit(0L)).as("tokens"))

    val s03 = base.agg(
      count(lit(1)).as("d0"), sum(col("tokens")).as("t0"),
      count(when(col("lang_ok"), lit(1))).as("d1"),
      sum(when(col("lang_ok"), col("tokens"))).as("t1"),
      count(when(col("quality_ok"), lit(1))).as("d2"),
      sum(when(col("quality_ok"), col("tokens"))).as("t2"),
      count(when(col("exact_ok"), lit(1))).as("d3"),
      sum(when(col("exact_ok"), col("tokens"))).as("t3"))
      .select(explode(array(
        stageRow(0, "ingested", col("d0"), col("t0")),
        stageRow(1, "lang_id", col("d1"), col("t1")),
        stageRow(2, "quality", col("d2"), col("t2")),
        stageRow(3, "exact_dedup", col("d3"), col("t3")))).as("s"))
      .select(col("s.*"))

    // span dedup among the exact survivors; docs below the shingle width
    // have no overlap row — treated as fraction 0 (kept)
    val d3 = base.filter(col("exact_ok"))
    val frac = Dedup.crossDocNgramOverlap(d3, spanK)
      .select(col("doc_id"), col("shared_fraction"))
    val d4 = d3.join(frac, Seq("doc_id"), "left")
      .filter(coalesce(col("shared_fraction"), lit(0.0)) <= spanMax)
      .withColumn("sampled",
        Mixture.textUniform(col("text")) <
          Mixture.rateFor(col("source"), rates, defaultRate))
    val s45 = d4.agg(
      count(lit(1)).as("d4"), sum(col("tokens")).as("t4"),
      count(when(col("sampled"), lit(1))).as("d5"),
      sum(when(col("sampled"), col("tokens"))).as("t5"))
      .select(explode(array(
        stageRow(4, "span_dedup", col("d4"), col("t4")),
        stageRow(5, "sampled", col("d5"), col("t5")))).as("s"))
      .select(col("s.*"))

    s03.union(s45).orderBy(col("stage_id"))
  }

  /** Keep-best near-dup resolution: within every near-dup cluster
    * ([[Dedup.nearDupClusters]] over the verified Jaccard pairs), keep the
    * HIGHEST-QUALITY member instead of the default min-id — the policy a
    * real curation pipeline wants, since the duplicate that survives is
    * the one that trains. Quality is the fixed-weight logistic score
    * ([[graft.functions.TextAnalysis.qualityLogit]]); the argmax runs on
    * the ROUNDED score with doc_id as the tiebreak, so the winner is
    * deterministic and the whole verdict frame replays in the oracle
    * (same recursive-closure + logit CTEs). Cost beyond clustering: one
    * per-doc score scan + a rank window partitioned by cluster — both
    * shuffle-bounded by the doc count, never the pair count.
    */
  /** Greedy maximum-coverage subset selection (Nemhauser/Wolsey/Fisher
    * 1978 — the (1−1/e) greedy for submodular coverage; the
    * facility-location-style data-selection step an LLM pipeline runs to
    * pick a SMALL, maximally-diverse seed set): `k` rounds, each picking
    * the document adding the most UNSEEN word trigrams (ties → smallest
    * doc_id), reporting per-pick marginal gain and cumulative coverage.
    * Trigrams, not unigrams: a closed 31-word vocabulary saturates after
    * two docs, while the trigram universe keeps the greedy informative
    * at every harness scale.
    *
    * Scale: the per-doc distinct-trigram frame builds ONCE — hashed
    * xxhash64 keys, so every later shuffle/broadcast moves 8-byte
    * longs, never trigram strings — and is the round's ONLY
    * materialization (localCheckpoint). Each round then runs exactly
    * one job: the covered set is re-derived INLINE from the
    * checkpointed frame (`doc_id IN picks` → distinct — bounded by
    * k·max-doc-trigrams, broadcastable), anti-joined for the map-side-
    * combined gain count, and the argmax row (exactly one) is
    * collected. Plan depth stays CONSTANT across rounds — no chained
    * lineage, no per-round checkpoints (the r8 profile showed the 2k
    * checkpoint jobs dominating the 8 s runtime). The k-round
    * sequential structure is intrinsic to greedy submodular selection
    * (each pick conditions the next); distributed batched variants
    * trade approximation for rounds, deliberately out of scope.
    */
  def coverageSelection(documents: DataFrame, k: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    import org.apache.spark.sql.functions.{broadcast => bc}
    // The old spelling built trigrams declaratively — transform(sequence)
    // re-evaluating split(text,' ') per element, interpreted — and then
    // paid a corpus-wide distinct SHUFFLE for (doc_id, g) dedup. The
    // native WordShingles expression emits the per-doc DISTINCT shingles
    // (LinkedHashSet) from one codegen pass over the same ' '-split
    // tokens (CoverageCmhSpec pins the set equality incl. repeated-space
    // empty tokens), so tri needs no distinct at all: a map-only build.
    // session-cached (was a per-invocation localCheckpoint — rebuilt and
    // leaked on every call and bench pass); the greedy loop scans it ~3x
    // per round
    val tri = triCache.getOrBuild(documents, ()) {
      documents.select(col("doc_id"),
        explode(graft.functions.GraftColumns.wordShingles(col("text"), 3))
          .as("g0"))
        .select(col("doc_id"), xxhash64(col("g0")).as("g"))
    }
    // (pick, doc_id, gain) — the argmax row is 1 row by construction
    // (a no-groupBy max), so the collect is bounded like the other
    // 1-row argmaxes in this repo, not a driver-side data loop.
    //
    // INCREMENTAL gains: instead of re-running the full anti-join +
    // per-doc count every round (k scans of the whole trigram frame),
    // maintain a |docs|-row gains frame and subtract, per round, only
    // the counts of trigrams the new pick JUST covered (tri x newCov is
    // the matched subset, broadcast-joined). A picked doc's gain lands
    // exactly at 0 (its uncovered set became covered), so the gain > 0
    // filter reproduces the original argmax domain (docs with >= 1
    // uncovered trigram) with no pick-exclusion bookkeeping. newCov
    // frames are disjoint by construction, so `covered` stays a lazy
    // union of per-round checkpoints.
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    // AQE's per-stage job materialization triples the job count on these
    // model-sized round frames (gains = one row per doc with a live
    // trigram, deltas smaller) for zero adaptive benefit — the joins are
    // explicitly broadcast-hinted. Scoped off for the greedy loop.
    PlanCache.withoutAqe(spark) {
    var gains = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
      .localCheckpoint()
    var covered: DataFrame = null
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val best = gains.filter(col("gain") > 0)
        .agg(max(struct(col("gain"), (-col("doc_id")).as("nd"))).as("b"))
        .select((-col("b.nd")).as("doc_id"), col("b.gain").as("gain"))
        // coverage exhausted before k picks (every remaining doc fully
        // covered): the empty-gains argmax is a NULL row — drop it so
        // the pick list ends exactly where the oracle's does
        .filter(col("doc_id").isNotNull)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        picks += ((r, row.getLong(0), row.getLong(1)))
        if (r < k) { // the last pick needs no state update
          val mine = tri.filter(col("doc_id") === row.getLong(0)).select(col("g"))
          val newCov = (if (covered == null) mine
            else mine.join(bc(covered), Seq("g"), "left_anti"))
            .localCheckpoint()
          covered = if (covered == null) newCov else covered.union(newCov)
          val delta = tri.join(bc(newCov), Seq("g"))
            .groupBy(col("doc_id")).agg(count(lit(1)).as("d"))
          val prev = gains
          gains = gains.join(delta, Seq("doc_id"), "left")
            .select(col("doc_id"),
              (col("gain") - coalesce(col("d"), lit(0L))).as("gain"))
            .localCheckpoint()
          PlanCache.freeCheckpoint(prev)
        }
      }
      r += 1
    }
    }
    val cum = picks.scanLeft(0L)(_ + _._3).tail
    import spark.implicits._
    picks.toSeq.zip(cum)
      .map { case ((r, d, g), c) => (r, d, g, c) }
      .toDF("pick", "doc_id", "gain", "covered_total")
      .orderBy(col("pick"))
  }

  /** Unrolled greedy replay: per round, the argmax by (gain DESC,
    * doc_id) over trigrams anti-joined against the union of prior
    * picks' trigram sets.
    */
  def coverageOracleSql(k: Int = 10): String = {
    val rounds = (1 to k).map { r =>
      val coveredSrc =
        if (r == 1) "SELECT g FROM tri WHERE false"
        else (1 until r).map(i => s"SELECT g FROM tri WHERE doc_id = (SELECT doc_id FROM p$i)").mkString(" UNION ")
      s"""c$r AS MATERIALIZED ($coveredSrc),
p$r AS MATERIALIZED (
  SELECT doc_id, gain FROM (
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS gain,
      row_number() OVER (ORDER BY count(*) DESC, t.doc_id) AS rn
    FROM tri t LEFT JOIN c$r c ON t.g = c.g
    WHERE c.g IS NULL
    GROUP BY t.doc_id) x
  WHERE rn = 1)"""
    }.mkString(",\n")
    val out = (1 to k).map(r =>
      s"SELECT $r AS pick, doc_id, gain FROM p$r").mkString("\nUNION ALL\n")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
  FROM documents),
tri AS MATERIALIZED (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM tk),
$rounds,
allp AS ($out)
SELECT pick, doc_id, gain,
  CAST(sum(gain) OVER (ORDER BY pick ROWS BETWEEN UNBOUNDED PRECEDING
    AND CURRENT ROW) AS BIGINT) AS covered_total
FROM allp ORDER BY pick""".stripMargin
  }

  /** Contamination-aware corpus REGENERATION — the composed end-to-end
    * pipeline a curation user actually runs after a span audit, four
    * already-oracled primitives in one plan:
    *
    *   1. [[SpanDedup.spanTrimApply]] — cut every document to its
    *      longest cross-doc-duplicate-free stretch (drop docs trimmed
    *      to zero tokens);
    *   2. exact dedup of the EDITED text (md5-digest groupBy, min
    *      doc_id survives — trimming distinct docs to the same clean
    *      stretch creates new exact duplicates the original-corpus
    *      dedup could not see);
    *   3. re-split the survivors 80/10/10 by the content-hash rule on
    *      the CLEANED text (the [[SuffixArray.splitContamination]]
    *      rolling-hash gate — re-hashing is mandatory: the old split of
    *      a now-edited doc is stale);
    *   4. leakage audit: distinct k-token windows of survivor docs
    *      shared across ≥2 splits (hashed windows engine-side, string
    *      windows oracle-side, the [[SpanDedup.spanCoverage]]
    *      convention). By construction of the trim this count is ZERO —
    *      the audit column PROVES the regenerated corpus is span-clean,
    *      independently recomputed by the oracle's own staged CTEs.
    *
    * Output: one row per split — (split, n_docs, n_tokens,
    * trimmed_tokens [cut by step 1 across that split's survivors],
    * dups_dropped [docs absorbed by step 2], leak_docs [step 4]).
    *
    * Scale: step 1 is the span-plan shuffle; step 2 one digest groupBy
    * (text travels once); step 3 map-only; step 4 one distinct + one
    * aggregate on hashed windows. No driver-side data, no all-pairs.
    */
  def regenSplits(documents: DataFrame, k: Int = 6): DataFrame = {
    val tagged = regenCorpus(documents, k)
    val w = tagged
      .select(col("doc_id"), col("split"),
        split(col("cleaned_text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), col("split"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1})," +
          s" i -> xxhash64(slice(toks, i, $k)))")).as("sh"))
    val leakSpans = w.select(col("sh"), col("split")).distinct()
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("ns"))
      .filter(col("ns") >= 2)
      .select(col("sh"))
    val leakDocs = w.join(leakSpans, Seq("sh"))
      .select(col("split"), col("doc_id")).distinct()
      .groupBy(col("split")).agg(count(lit(1)).as("leak_docs"))
    tagged
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("removed_tokens")).as("trimmed_tokens"),
        sum(col("dups_dropped")).as("dups_dropped"))
      .join(leakDocs, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_tokens"),
        col("trimmed_tokens"), col("dups_dropped"),
        coalesce(col("leak_docs"), lit(0L)).as("leak_docs"))
      .orderBy(col("split"))
  }

  /** Session cache of the coverage trigram frame ([[PlanCache]]
    * discipline) — see [[coverageSelection]].
    */
  private val triCache = new PlanCache[Unit]()

  /** Session-scoped cache of the regenerated corpus ([[PlanCache]]
    * discipline): both consumers (the per-split rollup and the
    * train-split manifest) and every bench pass re-derive the same
    * survivor frame, so it is materialized once per (corpus, k) — the
    * "write the intermediate dataset" step of a real pipeline.
    */
  private val regenCache = new PlanCache[Int]()

  /** The regenerated corpus itself — steps 1-3 of [[regenSplits]]
    * (trim-apply, md5 exact dedup of the edited text, content-hash
    * re-split), exposed so downstream stages compose on it: one row per
    * SURVIVOR doc with (doc_id, cleaned_text, n_toks, removed_tokens,
    * dups_dropped, split).
    */
  def regenCorpus(documents: DataFrame, k: Int = 6): DataFrame =
    regenCache.getOrBuild(documents, k)(computeRegenCorpus(documents, k))

  private def computeRegenCorpus(documents: DataFrame, k: Int): DataFrame = {
    val cleaned = SpanDedup.spanTrimApply(documents, k)
      .filter(col("keep_len") > 0)
      .select(col("doc_id"), col("cleaned_text"),
        col("keep_len").as("n_toks"), col("removed_tokens"))
    val surv = cleaned
      .withColumn("digest", md5(col("cleaned_text")))
      .groupBy(col("digest"))
      .agg(
        min(struct(col("doc_id"), col("cleaned_text"), col("n_toks"),
          col("removed_tokens"))).as("m"),
        count(lit(1)).as("grp"))
      .select(col("m.doc_id").as("doc_id"),
        col("m.cleaned_text").as("cleaned_text"),
        col("m.n_toks").as("n_toks"),
        col("m.removed_tokens").as("removed_tokens"),
        (col("grp") - 1L).as("dups_dropped"))
    val bucket =
      graft.functions.GraftColumns.rollingHash(col("cleaned_text")) % 100
    surv.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
  }

  /** The WITH-list producing the oracle's `tagged` relation — the
    * staged-CTE replay of [[regenCorpus]] (nested trim plan + apply,
    * md5 dedup via QUALIFY row_number, rolling-hash split gate),
    * shared by [[regenSplitsOracleSql]] and the composed
    * regen-train-manifest oracle in SparkEntry.
    */
  private[graft] def regenCtes(k: Int = 6): String =
    s"""cleaned0 AS MATERIALIZED (
       |${graft.operators.SpanDedup.spanTrimApplyOracleSql(k)}
       |),
       |cleaned AS (
       |  SELECT doc_id, cleaned_text, keep_len AS n_toks,
       |    removed_tokens
       |  FROM cleaned0 WHERE keep_len > 0),
       |surv AS (
       |  SELECT doc_id, cleaned_text, n_toks, removed_tokens,
       |    CAST(count(*) OVER (PARTITION BY md5(cleaned_text)) - 1
       |      AS BIGINT) AS dups_dropped
       |  FROM cleaned
       |  QUALIFY row_number() OVER (PARTITION BY md5(cleaned_text)
       |    ORDER BY doc_id) = 1),
       |tagged AS (
       |  SELECT *, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |    ELSE 'test' END AS split
       |  FROM (
       |    SELECT *,
       |      list_reduce(
       |        list_prepend(CAST(0 AS BIGINT),
       |          list_transform(range(1, length(cleaned_text) + 1),
       |            i -> CAST(ascii(cleaned_text[i]) AS BIGINT))),
       |        (a, b) -> (a * 31 + b) % 1000000007) % 100 AS b
       |    FROM surv))""".stripMargin

  /** Staged-CTE DuckDB replay of [[regenSplits]]: [[regenCtes]] plus
    * the string-window leak audit and the per-split rollup.
    */
  def regenSplitsOracleSql(k: Int = 6): String =
    s"""WITH ${regenCtes(k)},
       |w AS (
       |  SELECT doc_id, split, unnest(list_transform(
       |    range(1, len(toks) - ${k - 2}),
       |    i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS span
       |  FROM (SELECT doc_id, split, string_split(cleaned_text, ' ') AS toks
       |        FROM tagged)
       |  WHERE len(toks) >= $k),
       |leakspans AS (
       |  SELECT span FROM (SELECT DISTINCT span, split FROM w)
       |  GROUP BY span HAVING count(*) >= 2),
       |leakdocs AS (
       |  SELECT split, CAST(count(*) AS BIGINT) AS leak_docs
       |  FROM (SELECT DISTINCT split, doc_id
       |        FROM w JOIN leakspans USING (span))
       |  GROUP BY 1)
       |SELECT t.split,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(t.n_toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(t.removed_tokens) AS BIGINT) AS trimmed_tokens,
       |  CAST(sum(t.dups_dropped) AS BIGINT) AS dups_dropped,
       |  COALESCE(max(l.leak_docs), 0) AS leak_docs
       |FROM tagged t LEFT JOIN leakdocs l ON t.split = l.split
       |GROUP BY t.split
       |ORDER BY t.split""".stripMargin

  /** Incremental regeneration — the r10 rewrite loop composed for a NEW
    * batch arriving against a standing corpus (the ingest-side shape a
    * continuously-growing training corpus actually runs):
    *
    *  1. incremental exact dedup ([[Dedup.incrementalDedup]]): collapse
    *     within-batch raw duplicates to the min-doc_id survivor and
    *     anti-join away docs whose digest already stands in the corpus.
    *     At scale the standing side is the 16-byte digest INDEX of the
    *     corpus, never its text.
    *  2. span audit over the surviving arrival ([[SpanDedup.spanTrimApply]]):
    *     trim spans duplicated WITHIN the batch; docs trimmed to nothing
    *     drop. (The standing corpus was span-audited when IT was
    *     regenerated — the incremental invariant.)
    *  3. post-trim dedup + split assignment, the [[regenCorpus]] rules
    *     verbatim: md5(cleaned_text) min-doc_id survivor with
    *     dups_dropped, then the rolling-hash 80/10/10 content split — an
    *     incrementally-added doc lands in the SAME split a full rebuild
    *     would give it, so splits stay stable under growth.
    *
    * The streaming counterpart (stages 1+3, which are the streamable
    * prefix — stage 2 needs cross-doc windows over the whole arrival) is
    * [[graft.streaming.StreamingAgg.incrementalRegenStream]], parity-
    * pinned in StreamingAggSpec.
    */
  def incrementalRegen(
      newDocs: DataFrame, corpus: DataFrame, k: Int = 6): DataFrame = {
    val survIds = Dedup.incrementalDedup(newDocs, corpus).select(col("doc_id"))
    val survDocs = newDocs.join(survIds, Seq("doc_id"), "left_semi")
    val cleaned = SpanDedup.spanTrimApply(survDocs, k)
      .filter(col("keep_len") > 0)
      .select(col("doc_id"), col("cleaned_text"),
        col("keep_len").as("n_toks"), col("removed_tokens"))
    val surv = cleaned
      .withColumn("digest", md5(col("cleaned_text")))
      .groupBy(col("digest"))
      .agg(
        min(struct(col("doc_id"), col("cleaned_text"), col("n_toks"),
          col("removed_tokens"))).as("m"),
        count(lit(1)).as("grp"))
      .select(col("m.doc_id").as("doc_id"),
        col("m.cleaned_text").as("cleaned_text"),
        col("m.n_toks").as("n_toks"),
        col("m.removed_tokens").as("removed_tokens"),
        (col("grp") - 1L).as("dups_dropped"))
    val bucket =
      graft.functions.GraftColumns.rollingHash(col("cleaned_text")) % 100
    surv
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("n_toks"), col("removed_tokens"),
        col("dups_dropped"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Staged-CTE DuckDB replay of [[incrementalRegen]] under the harness
    * convention (new batch = doc_id >= `splitAt`, standing corpus below):
    * raw-digest survivor anti-join, then the span-trim chain retabled
    * onto the survivor arrival, then the [[regenCtes]] dedup+split rules.
    */
  def incrementalRegenOracleSql(k: Int = 6, splitAt: Long = 250L): String =
    s"""WITH surv_new AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM documents d
       |  JOIN (SELECT min(doc_id) AS doc_id FROM documents
       |        WHERE doc_id >= $splitAt GROUP BY md5(text)) s
       |    ON d.doc_id = s.doc_id
       |  WHERE md5(d.text) NOT IN
       |    (SELECT md5(text) FROM documents WHERE doc_id < $splitAt)),
       |cleaned0 AS MATERIALIZED (
       |${graft.operators.SpanDedup.spanTrimApplyOracleSql(k, "surv_new")}
       |),
       |cleaned AS (
       |  SELECT doc_id, cleaned_text, keep_len AS n_toks, removed_tokens
       |  FROM cleaned0 WHERE keep_len > 0),
       |surv AS (
       |  SELECT doc_id, cleaned_text, n_toks, removed_tokens,
       |    CAST(count(*) OVER (PARTITION BY md5(cleaned_text)) - 1
       |      AS BIGINT) AS dups_dropped
       |  FROM cleaned
       |  QUALIFY row_number() OVER (PARTITION BY md5(cleaned_text)
       |    ORDER BY doc_id) = 1)
       |SELECT doc_id, n_toks, removed_tokens, dups_dropped,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |    ELSE 'test' END AS split
       |FROM (
       |  SELECT *,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(cleaned_text) + 1),
       |          i -> CAST(ascii(cleaned_text[i]) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % 1000000007) % 100 AS b
       |  FROM surv)
       |ORDER BY doc_id""".stripMargin

  /** Per-source quality gating — keep the top `keepPpm` fraction of each
    * SOURCE by quality score, not the top fraction of the pooled corpus
    * (the FineWeb/CCNet practice): a global threshold lets one
    * high-scoring source crowd every other domain out of the mixture,
    * while per-source quantiles preserve domain coverage and still drop
    * each source's worst tail. Output carries BOTH gates per document plus
    * a status column — `rescued` (kept per-source, dropped globally) and
    * `displaced` (the reverse) are exactly the documents on which the two
    * policies disagree, the table a curation review reads first.
    *
    * Exactness: the score is the shared [[qualityScore]] expression (the
    * docStats/funnel fixed point — a short IEEE sequence both engines
    * evaluate bit-identically), ranks tie-break on doc_id for a total
    * order, and keep counts are exact ceilings `(keepPpm*n + 999999) DIV
    * 1e6` in BIGINT.
    *
    * Scale shape: ONE corpus scan — per-source ranks are one shuffle on
    * source (a sort per stratum — exact quantile gating IS a per-source
    * sort; an approximate variant would gate on approx_percentile
    * thresholds instead), and src_n rides the same source exchange as a
    * count window. The GLOBAL rank deliberately avoids the
    * single-partition window trap via
    * [[DistributedRank.withGlobalRankAndCount]] (range partition +
    * per-partition offsets), which also yields the exact total count from
    * the offset-building job — no second scan for either denominator.
    */
  def perSourceQualityGate(
      documents: DataFrame,
      stopwords: Seq[String],
      keepPpm: Long = 500000L): DataFrame = {
    require(keepPpm >= 0L && keepPpm <= 1000000L, s"keepPpm: $keepPpm")
    val toks = split(col("text"), " ")
    val scored = documents.select(col("doc_id"), col("source"),
      qualityScore(toks, stopwords).as("quality_score"))
    val bySrc = Window.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val (ranked, totalN) = DistributedRank.withGlobalRankAndCount(scored,
      Seq(col("quality_score").desc, col("doc_id")), "global_rank")
    ranked
      .withColumn("src_rank", row_number().over(bySrc).cast("long"))
      .withColumn("src_n",
        count(lit(1)).over(Window.partitionBy(col("source"))).cast("long"))
      .withColumn("kept",
        expr(s"src_rank <= ($keepPpm * src_n + 999999) DIV 1000000"))
      .withColumn("kept_global",
        expr(s"global_rank <= ($keepPpm * ${totalN}L + 999999) DIV 1000000"))
      .withColumn("status",
        when(col("kept") && col("kept_global"), "kept")
          .when(col("kept") && !col("kept_global"), "rescued")
          .when(!col("kept") && col("kept_global"), "displaced")
          .otherwise("dropped"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("src_rank"), col("src_n"), col("kept"),
        col("global_rank"), col("kept_global"), col("status"))
      .orderBy(col("doc_id"))
  }

  def keepBestPerCluster(
      documents: DataFrame, stopwords: Seq[String]): DataFrame = {
    val clusters = Dedup.nearDupClusters(
      documents, Dedup.ngramJaccardPairs(documents))
    val quality = graft.functions.TextAnalysis
      .qualityLogit(documents, stopwords)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(desc("quality_score"), asc("doc_id"))
    clusters
      .join(quality, Seq("doc_id"))
      .withColumn("is_kept", row_number().over(w) === 1)
      .select(col("cluster_id"), col("doc_id"), col("quality_score"),
        col("is_kept"))
      .orderBy(col("doc_id"))
  }
}
