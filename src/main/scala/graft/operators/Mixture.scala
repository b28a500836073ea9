package graft.operators

import graft.functions.GraftColumns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic source-mixture sampling — the knob every training-data
  * pipeline turns: "keep 20% of web, 80% of code, all of books". A doc is
  * kept iff a uniform number DERIVED FROM ITS TEXT falls under its
  * source's rate:
  *
  *     U(text) = top-53-bits(mix64(fnv1a64(text))) / 2^53   in [0, 1)
  *     keep    = U(text) < rate(source)
  *
  * Properties a `rand() < rate` filter cannot give:
  *   - map-only: no shuffle, no RNG state, no seed plumbing — scales as a
  *     pure scan at any corpus size;
  *   - reproducible under reorder, repartition, and corpus growth
  *     (decisions are a pure function of content, not of row position);
  *   - monotone in the rate: raising a source's rate only ADDS documents
  *     (the kept set at rate r is a subset of the kept set at r' > r) —
  *     mixtures can be re-weighted incrementally without resampling;
  *   - identical duplicate texts sample identically, so exact-dedup
  *     before or after sampling sees consistent survivors.
  *
  * U is an exact dyadic rational (53 bits into a double — lossless; the
  * /2^53 is a power-of-two division) and the hash family is the public
  * fnv1a64+mix64 pair, so the whole gate is reproduced bit-exactly by
  * the DuckDB oracle (graft.SketchOracles.mixtureSql).
  */
object Mixture {

  /** Unpersist the session's live dist-matched base frame, if any. */
  def releaseDistMatched(spark: org.apache.spark.sql.SparkSession): Unit =
    PlanCache.releasePins(spark, this)

  /** Persist the (doc_id, is_ref, bucket, pri) frame of a
    * [[distMatchedSample]] call and pin it in the [[PlanCache]] registry:
    * a new call releases the previous frame, so one frame per session.
    */
  private def pinDistMatchedBase(base: DataFrame): DataFrame =
    PlanCache.replacePins(base.sparkSession, this)(Seq(
      base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))).head

  /** The 53-bit integer content priority — the dyadic numerator of
    * [[textUniform]] (identical order; oracles spell it `mx // 2048`).
    * ONE spelling shared by the rank-admission samplers.
    */
  def textPriority(text: Column): Column =
    shiftrightunsigned(GraftColumns.mix64(GraftColumns.fnv1a64(text)), 11)
      .cast("long")

  /** Uniform [0,1) gate from the text fingerprint (exact dyadic). */
  def textUniform(text: Column): Column =
    textPriority(text).cast("double") / lit(9007199254740992.0) // 2^53

  /** Per-source target rate as a CASE chain (first match wins; unknown
    * sources fall back to `defaultRate`). The chain is evaluated per ROW at
    * scan time, so its cost is O(|rates|) per document — the right shape up
    * to a few hundred sources; beyond that [[sampleBySource]] switches to a
    * broadcast rate dimension.
    */
  def rateFor(source: Column, rates: Map[String, Double], defaultRate: Double): Column =
    coalesce(
      (rates.toSeq.sortBy(_._1).map { case (s, r) =>
        when(source === lit(s), lit(r))
      } :+ lit(defaultRate)): _*)

  /** CASE-chain size above which the gate joins a broadcast rate dimension
    * instead: a broadcast hash join probes O(1) per row regardless of
    * |rates|, where the chain is O(|rates|) scan-time work per document.
    */
  val BroadcastRateThreshold = 64

  /** The sampled corpus: documents passing their source's gate. Identical
    * keep-decisions on both paths (the gate value never changes — only how
    * the per-source rate is looked up), so callers and oracles are
    * dispatch-agnostic.
    */
  def sampleBySource(
      documents: DataFrame,
      rates: Map[String, Double],
      defaultRate: Double = 1.0): DataFrame =
    if (rates.size > BroadcastRateThreshold)
      sampleBySourceBroadcast(documents, rates, defaultRate)
    else
      documents.filter(
        textUniform(col("text")) < rateFor(col("source"), rates, defaultRate))

  /** High-cardinality path: the rate map becomes a broadcast dimension and
    * the gate compares against the hash-join probe result — one O(1) lookup
    * per document instead of an O(|rates|) CASE chain in the scan. Row
    * multiplicity is preserved (source is the dimension's unique key;
    * unmatched sources null out and take `defaultRate`).
    */
  def sampleBySourceBroadcast(
      documents: DataFrame,
      rates: Map[String, Double],
      defaultRate: Double = 1.0): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val dim = rates.toSeq.sortBy(_._1).toDF("__mix_source", "__mix_rate")
    documents
      .join(broadcast(dim), col("source") === col("__mix_source"), "left")
      .filter(textUniform(col("text")) < coalesce(col("__mix_rate"), lit(defaultRate)))
      .drop("__mix_source", "__mix_rate")
  }

  /** Mixture audit: per-source doc/token mass before and after the gate,
    * realized vs target rate — the table a pipeline reviews before
    * committing a mixture. One scan, one keyed aggregation.
    */
  def mixtureStats(
      documents: DataFrame,
      rates: Map[String, Double],
      defaultRate: Double = 1.0): DataFrame = {
    val keep = textUniform(col("text")) < rateFor(col("source"), rates, defaultRate)
    val tokens = graft.functions.TextAnalysis.wsTokenCount(col("text"))
    documents
      .select(col("source"), tokens.as("tokens"), keep.as("keep"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs_before"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("docs_after"),
        sum(col("tokens")).as("tokens_before"),
        sum(when(col("keep"), col("tokens")).otherwise(0L)).as("tokens_after"))
      .withColumn("realized_rate",
        col("docs_after").cast("double") / col("docs_before").cast("double"))
      .withColumn("target_rate", rateFor(col("source"), rates, defaultRate))
      .orderBy(col("source"))
  }

  /** Exact-quota stratified sample — the "exactly N docs per source"
    * counterpart of the rate gate (a data budget, not a probability):
    * documents rank within their source by the SAME content-keyed uniform
    * as the gate (ties broken by doc_id for a total order), and the first
    * `quota(source)` survive. Inherits the gate's properties: deterministic
    * under reorder/repartition/growth, identical duplicates rank adjacently,
    * and quotas are monotone — raising a source's quota only ADDS documents
    * (ranks never depend on the quota).
    *
    * Scale shape: one shuffle on source + a per-group sort for row_number —
    * a reduce task per stratum. Strata in a mixture config are coarse
    * (tens..hundreds), so per-stratum volume, not stratum count, is the
    * axis that grows; for a web-scale stratum, either use the rate gate, or
    * split the stratum into salted sub-strata whose quotas sum to N (the
    * priority is uniform, so any hash split of a stratum samples the same
    * distribution).
    */
  def stratifiedSample(
      documents: DataFrame,
      quotas: Map[String, Long],
      defaultQuota: Long = 0L): DataFrame = {
    val quota = coalesce(
      (quotas.toSeq.sortBy(_._1).map { case (s, q) =>
        when(col("source") === lit(s), lit(q))
      } :+ lit(defaultQuota)): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("pick_pri"), col("doc_id"))
    documents
      .select(col("doc_id"), col("source"), textUniform(col("text")).as("pick_pri"))
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= quota)
      .select(col("doc_id"), col("source"), col("pick_rank"))
      .orderBy(col("source"), col("pick_rank"))
  }

  /** Token-budget sample — the "N TOKENS per source" counterpart of
    * [[stratifiedSample]]'s doc quota: training mixtures are specified in
    * tokens, not documents, so the budget must close over variable-length
    * docs. Documents rank within their source by the same content-keyed
    * uniform; a document is admitted iff its source's budget is not yet
    * exhausted when it STARTS (cum_tokens − tokens < budget), so the last
    * admitted doc may overshoot — the standard fill-until-reached
    * semantics, and the one that keeps admission monotone in the budget.
    * Inherits the gate's properties: deterministic under
    * reorder/repartition/growth, duplicates rank adjacently.
    *
    * Scale shape: identical to [[stratifiedSample]] — one shuffle on
    * source, a per-stratum sort, a running-sum window; web-scale strata
    * split into salted sub-strata whose budgets sum to the total.
    */
  def tokenBudgetSample(
      documents: DataFrame,
      budgets: Map[String, Long],
      defaultBudget: Long = 0L): DataFrame = {
    val budget = coalesce(
      (budgets.toSeq.sortBy(_._1).map { case (s, b) =>
        when(col("source") === lit(s), lit(b))
      } :+ lit(defaultBudget)): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("pick_pri"), col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.wsTokenCount(col("text")).as("tokens"),
        textUniform(col("text")).as("pick_pri"))
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .filter(col("cum_tokens") - col("tokens") < budget)
      .select(col("doc_id"), col("source"), col("tokens"), col("cum_tokens"))
      .orderBy(col("source"), col("cum_tokens"))
  }

  /** Distribution-matched resampling — reshape a POOL corpus so its
    * length-bucket histogram matches a REFERENCE corpus's (the "make the
    * mixture look like the target domain" curation op: a web crawl
    * resampled to wiki's length profile before training). Three exact
    * stages, all integer arithmetic:
    *
    *   1. bucket(doc) = the padding length bucket (the same powers-of-two
    *      case over the whitespace token count as
    *      [[graft.functions.TextAnalysis.lengthBuckets]]).
    *   2. quota(b) = Hamilton largest-remainder apportionment of
    *      `N = pool_total * samplePpm DIV 1e6` across the REFERENCE's
    *      bucket counts (floor(N*ref_n/ref_tot), then +1 for the
    *      N − Σfloor largest remainders, ties to the smaller bucket) —
    *      Σquota = N doc-exactly, the same discipline as
    *      [[allocateFromSupplies]]' Hamilton bump. Buckets absent from
    *      the reference get quota 0 (their exclusion IS the matching);
    *      a bucket with fewer pool docs than quota admits them all
    *      (shortfall surfaces as max(pick_rank) < quota).
    *   3. admission = content-keyed rank ≤ quota within the bucket, the
    *      same uniform priority as [[stratifiedSample]] — deterministic
    *      under reorder/repartition/growth, duplicates rank adjacently.
    *
    * Scale shape: the quota solve is windows over a ≤|buckets|-row frame
    * (≤8 rows — the accepted bounded-model-frame window). The pool rank
    * deliberately does NOT use a per-bucket window: buckets are so coarse
    * (≤8) that each stratum is ~1/8 of the corpus, so
    * `Window.partitionBy(bucket)` would funnel 100 TB through 8 reduce
    * tasks. Instead [[DistributedRank]] range-partitions the TOTAL order
    * (bucket, pri, doc_id) and the per-bucket rank is
    * `global_rank − offset(bucket)` with offsets from the tiny per-bucket
    * count frame — every partition ranks in parallel regardless of
    * stratum width. The tokenize+hash pass runs ONCE: its ~25-byte/row
    * (doc_id, is_ref, bucket, pri) frame is persisted (the
    * [[graft.multimodal.Multimodal]] persist-once discipline — a new call
    * releases the previous frame, [[releaseDistMatched]] drops it
    * eagerly) and the two histograms, the pool count and the rank all
    * read it instead of re-scanning the corpus text. Caller releases the
    * ranged frame via [[DistributedRank.release]] (the Verify/Bench
    * harness does).
    */
  def distMatchedSample(
      documents: DataFrame,
      refSource: String = "src0",
      samplePpm: Long = 400000L): DataFrame = {
    require(samplePpm >= 0L && samplePpm <= 1000000L, s"samplePpm: $samplePpm")
    import org.apache.spark.sql.expressions.Window
    val bucket = graft.functions.TextAnalysis.lengthBucket(
      graft.functions.TextAnalysis.wsTokenCount(col("text")))
    val base = pinDistMatchedBase(documents.select(
      col("doc_id"), (col("source") === lit(refSource)).as("is_ref"),
      bucket.cast("int").as("bucket"), textPriority(col("text")).as("pri")))
    val pool = base.filter(!col("is_ref"))
    val dec = (c: Column) => c.cast("decimal(38,0)")

    // Quota solve over the ≤8-row reference histogram (exact decimals:
    // N*ref_n reaches supply² territory at 100 TB — past a BIGINT).
    val refh = base.filter(col("is_ref"))
      .groupBy(col("bucket")).agg(dec(count(lit(1))).as("ref_n"))
    val nTarget = pool.agg(dec(count(lit(1))).as("pool_tot"))
      .select(expr(s"CAST(pool_tot * $samplePpm DIV 1000000 AS DECIMAL(38,0))")
        .as("n_target"))
    val whole = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val quotas = refh.crossJoin(broadcast(nTarget))
      .withColumn("ref_tot", sum(col("ref_n")).over(whole))
      .withColumn("fl",
        expr("CAST(n_target * ref_n DIV ref_tot AS DECIMAL(38,0))"))
      .withColumn("rem", expr("(n_target * ref_n) % ref_tot"))
      .withColumn("leftover", col("n_target") - sum(col("fl")).over(whole))
      .withColumn("bump_rank", row_number().over(
        Window.partitionBy().orderBy(col("rem").desc, col("bucket"))).cast("long"))
      .withColumn("quota",
        (col("fl") + when(col("bump_rank") <= col("leftover"), 1L)
          .otherwise(0L)).cast("bigint"))
      .select(col("bucket"), col("quota"))

    // Per-bucket offsets from the tiny pool histogram; global rank over
    // the (bucket, pri, doc_id) total order does the heavy lifting.
    val before = Window.partitionBy().orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = pool.groupBy(col("bucket")).agg(count(lit(1)).as("pool_n"))
      .withColumn("offset", coalesce(sum(col("pool_n")).over(before), lit(0L)))
      .join(quotas, Seq("bucket"), "left")
      .select(col("bucket"), col("offset"),
        coalesce(col("quota"), lit(0L)).as("quota"))
    val ranked = DistributedRank.withGlobalRank(
      pool.select(col("doc_id"), col("bucket"), col("pri")),
      Seq(col("bucket"), col("pri"), col("doc_id")), "global_rank")
    ranked.join(broadcast(offs), Seq("bucket"))
      .withColumn("pick_rank", col("global_rank") - col("offset"))
      .filter(col("pick_rank") <= col("quota"))
      .select(col("doc_id"), col("bucket"), col("pick_rank"), col("quota"))
      .orderBy(col("bucket"), col("pick_rank"))
  }

  /** [[distMatchedSample]] in TOKEN MASS — training mixtures are sized in
    * tokens, so the histogram being matched is the reference's per-bucket
    * token mass, not its doc count (the [[tokenBudgetSample]] counterpart
    * of the doc-quota matcher). Hamilton apportions
    * `Ntok = pool_tokens · samplePpm DIV 1e6` across the reference's
    * bucket token masses; admission is fill-until-reached within the
    * bucket (`cum − tokens < quota`, the same gate as
    * [[tokenBudgetSample]] — the last admitted doc may overshoot, which
    * keeps admission monotone in the quota).
    *
    * Scale shape: identical to [[distMatchedSample]] except the rank
    * becomes a running TOKEN sum — and a per-bucket
    * `sum().over(partitionBy(bucket))` would funnel the corpus through
    * ≤8 reduce tasks, so the cumsum rides
    * [[DistributedRank.withGlobalPrefixSum]] (range partition on the
    * (bucket, pri, doc_id) total order, per-partition sums → offsets,
    * local windows) and the per-bucket cumsum is
    * `global_cumsum − token_offset(bucket)`. One persisted tokenize+hash
    * pass, tiny histogram solves, broadcast probe — same audit posture.
    */
  def distMatchedTokenSample(
      documents: DataFrame,
      refSource: String = "src0",
      samplePpm: Long = 400000L): DataFrame = {
    require(samplePpm >= 0L && samplePpm <= 1000000L, s"samplePpm: $samplePpm")
    import org.apache.spark.sql.expressions.Window
    val toks = graft.functions.TextAnalysis.wsTokenCount(col("text"))
    val bucket = graft.functions.TextAnalysis.lengthBucket(toks)
    val base = pinDistMatchedBase(documents.select(
      col("doc_id"), (col("source") === lit(refSource)).as("is_ref"),
      bucket.cast("int").as("bucket"), textPriority(col("text")).as("pri"),
      toks.cast("long").as("tokens")))
    val pool = base.filter(!col("is_ref"))
    val dec = (c: Column) => c.cast("decimal(38,0)")

    val refh = base.filter(col("is_ref"))
      .groupBy(col("bucket")).agg(dec(sum(col("tokens"))).as("ref_n"))
    val nTarget = pool.agg(dec(sum(col("tokens"))).as("pool_tot"))
      .select(expr(s"CAST(pool_tot * $samplePpm DIV 1000000 AS DECIMAL(38,0))")
        .as("n_target"))
    val whole = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val quotas = refh.crossJoin(broadcast(nTarget))
      .withColumn("ref_tot", sum(col("ref_n")).over(whole))
      .withColumn("fl",
        expr("CAST(n_target * ref_n DIV ref_tot AS DECIMAL(38,0))"))
      .withColumn("rem", expr("(n_target * ref_n) % ref_tot"))
      .withColumn("leftover", col("n_target") - sum(col("fl")).over(whole))
      .withColumn("bump_rank", row_number().over(
        Window.partitionBy().orderBy(col("rem").desc, col("bucket"))).cast("long"))
      .withColumn("quota",
        (col("fl") + when(col("bump_rank") <= col("leftover"), 1L)
          .otherwise(0L)).cast("bigint"))
      .select(col("bucket"), col("quota"))

    val before = Window.partitionBy().orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = pool.groupBy(col("bucket")).agg(sum(col("tokens")).as("pool_t"))
      .withColumn("offset", coalesce(sum(col("pool_t")).over(before), lit(0L)))
      .join(quotas, Seq("bucket"), "left")
      .select(col("bucket"), col("offset"),
        coalesce(col("quota"), lit(0L)).as("quota"))
    val summed = DistributedRank.withGlobalPrefixSum(
      pool.select(col("doc_id"), col("bucket"), col("pri"), col("tokens")),
      Seq(col("bucket"), col("pri"), col("doc_id")), col("tokens"), "gcum")
    summed.join(broadcast(offs), Seq("bucket"))
      .withColumn("cum_tokens", col("gcum") - col("offset"))
      .filter(col("cum_tokens") - col("tokens") < col("quota"))
      .select(col("doc_id"), col("bucket"), col("tokens"),
        col("cum_tokens"), col("quota").as("quota_tokens"))
      .orderBy(col("bucket"), col("cum_tokens"))
  }

  /** Per-document weighted sampling — the rate is computed FROM the
    * document instead of looked up by source: here inverse-length
    * (`min(1, targetTokens/tokens)`), the standard correction that stops
    * long documents from dominating the token mass of a sampled corpus
    * (each doc contributes ~`targetTokens` expected tokens regardless of
    * length). Same content-keyed gate as [[sampleBySource]] — map-only,
    * reorder/growth-stable, monotone in `targetTokens`, duplicate-
    * consistent — and every float is deterministic: the rate is one
    * double division of exact integers, the uniform is an exact dyadic.
    */
  def weightedSample(documents: DataFrame, targetTokens: Double = 40.0): DataFrame = {
    val tokens = graft.functions.TextAnalysis.wsTokenCount(col("text"))
    documents
      .select(
        col("doc_id"), col("source"), tokens.as("tokens"),
        least(lit(1.0), lit(targetTokens) / tokens.cast("double")).as("rate"),
        textUniform(col("text")).as("u"))
      .filter(col("u") < col("rate"))
      .orderBy(col("doc_id"))
  }

  /** Efraimidis-Spirakis weighted reservoir (A-ES, IPL 2006): a
    * deterministic weighted sample WITHOUT replacement of exactly k
    * documents, inclusion probability proportional to token count — the
    * principled "sample by mass" companion to the rate gate
    * ([[weightedSample]], Bernoulli, no size guarantee) and the quota
    * samplers (exact size, uniform within source). Key = u^(1/w) ranked
    * in the LOG domain: ln(u)/w orders identically (ln is monotone,
    * w > 0) and stays in the ~1-ulp cross-engine class where pow() is
    * several-ulp; u is the content-hash dyadic ([[textUniform]]), so the
    * sample is reorder-stable and duplicate-consistent like every other
    * gate here. Top-k is TakeOrderedAndProject — per-partition heaps over
    * a map-only scan, no shuffle of the corpus at any scale.
    */
  def weightedReservoir(documents: DataFrame, k: Int = 100): DataFrame = {
    val w = graft.functions.TextAnalysis.wsTokenCount(col("text"))
    documents
      .select(col("doc_id"), col("source"), w.as("n_tokens"),
        textUniform(col("text")).as("u"))
      // floor at 2^-53 (one dyadic step, exact on both engines): u = 0 has
      // probability 2^-53 per doc, but Spark's log(0) is NULL (row sorted
      // last silently) while DuckDB's ln(0) errors — the floor makes the
      // degenerate case identical instead of divergent
      .withColumn("es_key_raw",
        log(greatest(col("u"), lit(1.0) / lit(9007199254740992.0)))
          / col("n_tokens").cast("double"))
      .orderBy(col("es_key_raw").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("es_key_raw"), 6).as("es_key"))
      // rounded-grid re-sort (same reasoning as the retrieval top-ks)
      .orderBy(col("es_key").desc, col("doc_id"))
  }

  /** Deterministic negative sampling for contrastive pairs: k pseudo-
    * random OTHER documents per anchor, drawn by hashing (anchor, rank) —
    * reproducible across runs and layouts (no rand()), which is what
    * makes a contrastive dataset re-buildable. Relies on the harness's
    * dense doc_id domain [0, N): the draw is mix64(id·P + rank) reduced
    * mod N, self-hits shifted by one. Sampling is WITH replacement across
    * ranks (collisions keep the hash pure); the negative's metadata comes
    * from one id-keyed join (AQE: broadcast while the id-side fits).
    * Requires N >= 2: on a single-document corpus the self-hit shift
    * wraps back to the anchor and every pair degenerates to (0, r, 0).
    *
    * The mod-N reduction emulates UNSIGNED u64 % N from the JVM's signed
    * long — pmod of the signed value only matches when N divides 2^64
    * (the DSIR lesson), so the 2^64 mod N correction term is applied
    * explicitly; the oracle reduces the true u64 in HUGEINT.
    */
  def negativeSamples(documents: DataFrame, k: Int = 4): DataFrame = {
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val cands = documents.select(col("doc_id"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_docs"),
        explode(array((1 to k).map(lit): _*)).as("neg_rank"))
    val h = GraftColumns.mix64(col("doc_id") * lit(1000003L) + col("neg_rank"))
    // 2^64 mod N, built from column arithmetic: 2^63 mod N = (MaxLong mod N) + 1 (mod N)
    val r63 = pmod(pmod(lit(Long.MaxValue), col("n_docs")) + 1L, col("n_docs"))
    val r64 = pmod(r63 * 2L, col("n_docs"))
    val u = pmod(
      pmod(h, col("n_docs")) + when(h < 0L, r64).otherwise(lit(0L)),
      col("n_docs"))
    val neg = when(u === col("doc_id"), pmod(u + 1L, col("n_docs"))).otherwise(u)
    cands
      .select(col("doc_id"), col("neg_rank"), neg.as("neg_doc_id"))
      .join(documents.select(col("doc_id").as("neg_doc_id"),
        col("source").as("neg_source")), Seq("neg_doc_id"))
      .select(col("doc_id"), col("neg_rank"), col("neg_doc_id"), col("neg_source"))
      .orderBy(col("doc_id"), col("neg_rank"))
  }

  /** The driver query's stratified budget: five quota tiers cycled across
    * the generator's sources; unknown sources contribute nothing. Shared
    * with the oracle generator.
    */
  val DriverQuotas: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (5L + 5L * (i % 5))).toMap
  val DriverDefaultQuota: Long = 0L

  /** The driver query's token budgets: four tiers cycled across sources
    * (800/1600/2400/3200 tokens); unknown sources get nothing. Shared with
    * the oracle generator.
    */
  val DriverTokenBudgets: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (800L + 800L * (i % 4))).toMap
  val DriverDefaultTokenBudget: Long = 0L

  /** The driver query's mixture: five rate tiers cycled across the
    * generator's sources (src0..src19 -> 0.2/0.35/0.5/0.65/0.8); unknown
    * sources keep everything. Shared with the oracle generator.
    */
  val DriverRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (0.2 + 0.15 * (i % 5))).toMap
  val DriverDefaultRate: Double = 1.0

  /** Rendezvous (highest-random-weight) shard assignment — the
    * coordination-free sharding rule (Thaler & Ravishankar 1998): a doc
    * lands on `argmax over s of mix64(fnv1a64(text) XOR s)`, ties to the
    * smallest shard id. The HRW guarantee is MINIMAL MOVEMENT: adding
    * shard N+1 relocates only the docs whose new argmax IS the new shard
    * (expected fraction 1/(N+1)); no doc ever moves BETWEEN old shards.
    * This operator audits exactly that: per current shard, the
    * population, how many leave for the new shard on expansion, and a
    * count of illegal old-to-old moves (structurally zero — the oracle
    * proves it by replaying both assignments).
    *
    * Map-only: the argmax over `shards+1` candidate weights is one
    * in-row array expression (sort of (weight, -id) structs — max weight,
    * tie to min id), so assignment costs a scan at any corpus size; the
    * rollup is |shards| rows. Weights compare as SIGNED longs on both
    * engines (the oracle converts its HUGEINT mix to the two's-complement
    * view before ranking).
    */
  /** Exact water-filling token-budget allocation across sources — the
    * "how many tokens do I take from each corpus" step of assembling a
    * pretraining mixture (the optimization DoReMi/Pile-style recipes solve
    * approximately; here the constrained-proportional form is solved
    * EXACTLY). Given a per-source target weight `w_s` and a total token
    * budget `B = floor(total_supply * budgetPpm / 1e6)`, the allocation is
    *
    *     alloc_s = min(supply_s, lambda * w_s),  Sum alloc_s = B,
    *
    * the unique water-filling solution: sources whose supply can't cover
    * their proportional share are capped at their full supply and the
    * freed budget re-flows to the rest. Closed form, no iteration: sorted
    * by the supply/weight ratio, the capped set is exactly the prefix
    * where `supply_i * remW_i <= (B - prefixSupply_{i-1}) * w_i`
    * (remW_i = suffix weight sum from row i; plain prefix sum over ALL
    * preceding rows — the inequality evaluates correctly pointwise even
    * past the true prefix because every uncapped row subtracts MORE than
    * its lambda-share from the numerator; verified IN-REPO against an
    * iterative exact-rational reference over 50,000 randomized cases
    * incl. zero supplies and 1e12 magnitudes — OptimalMixtureSpec's
    * pure-Scala twin, itself pinned to this Spark spelling by round-trip
    * trials). The fractional tail is settled by
    * Hamilton largest-remainder apportionment, so `Sum alloc = min(B,
    * total_supply)` EXACTLY — a loader can size shards off these numbers
    * with no drift row.
    *
    * Exactness: weights are `1 + (mix64(fnv1a64(source)) & 7)` (low bits,
    * and 8 divides 2^64, so the signed engine view and the oracle's
    * unsigned HUGEINT view agree); the ratio sort key is the exact integer
    * `supply * (840 DIV w)` (840 = lcm(1..8), so the division is exact and
    * the key orders identically to the true rational supply/w); every
    * product/comparison runs in DECIMAL(38,0) (supply*remW at 100 TB-scale
    * token counts overflows BIGINT), and DIV/% appear only with
    * non-negative operands, where Spark's truncation and DuckDB's floor
    * agree. The whole statement replays in DuckDB
    * ([[graft.SketchOracles.optimalMixtureSql]]).
    *
    * Scale shape: the ONLY corpus-scale work is the per-source token-count
    * aggregation (map-side combined, |sources| rows out). Everything after
    * runs on the per-source frame through unpartitioned windows — a single
    * reduce task over tens..hundreds of rows, the same regime as every
    * mixture config in practice.
    */
  def optimalMixture(documents: DataFrame, budgetPpm: Long = 600000L): DataFrame =
    allocateFromSupplies(supplyBySource(documents), budgetPpm)

  /** Per-source token supplies — the one corpus-scale stage of the solve
    * (map-side combined, |sources| rows out). Also the streaming state
    * shape: as a streaming aggregation this is exactly the standing
    * per-source running sum [[optimalMixtureStream]] re-solves over.
    */
  def supplyBySource(documents: DataFrame): DataFrame =
    documents
      .select(col("source"),
        graft.functions.TextAnalysis.wsTokenCount(col("text")).as("t"))
      .groupBy(col("source"))
      .agg(sum(col("t")).cast("decimal(38,0)").as("supply"))

  /** The closed-form solve over a (source, supply DECIMAL(38,0)) frame —
    * see [[optimalMixture]] for semantics and the exactness argument.
    * Factored out so the streaming re-solve runs the IDENTICAL code over
    * each micro-batch's standing supplies (batch ≡ stream parity is
    * structural).
    */
  /** Adds the content-keyed weight (`1 + (mix64(fnv1a64(source)) & 7)`)
    * and the exact integer ratio sort key to a (source, supply) frame.
    */
  private def withWeightKey(supplies: DataFrame): DataFrame =
    supplies
      .withColumn("w",
        (GraftColumns.mix64(GraftColumns.fnv1a64(col("source")))
          .bitwiseAND(lit(7L)) + lit(1L)).cast("decimal(38,0)"))
      .withColumn("skey", col("supply") * expr("840 DIV w"))

  /** The water-filling chain itself over a frame carrying (source, supply,
    * w, skey, budget) — optionally PER PARTITION (`part`), which is how
    * the hierarchical solve runs one independent allocation per domain in
    * a single pass. Adds `capped` and `alloc` (plus intermediates); carry
    * columns pass through.
    */
  private def waterfill(keyed: DataFrame, part: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec0 = lit(0L).cast("decimal(38,0)")
    val bySkey = Window.partitionBy(part: _*)
      .orderBy(col("skey"), col("source"))
    val before = bySkey.rowsBetween(Window.unboundedPreceding, -1)
    val fromHere = bySkey.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val whole = bySkey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    keyed
      .withColumn("cum_s_before", coalesce(sum(col("supply")).over(before), dec0))
      .withColumn("rem_w_from", sum(col("w")).over(fromHere))
      .withColumn("capped",
        col("supply") * col("rem_w_from") <=
          (col("budget") - col("cum_s_before")) * col("w"))
      .withColumn("capped_s",
        coalesce(sum(when(col("capped"), col("supply"))).over(whole), dec0))
      .withColumn("rem_w_star",
        coalesce(sum(when(!col("capped"), col("w"))).over(whole), dec0))
      .withColumn("x_rem", col("budget") - col("capped_s"))
      .withColumn("base", when(col("capped"), col("supply"))
        .otherwise(expr("CAST(x_rem * w DIV rem_w_star AS DECIMAL(38,0))")))
      .withColumn("remn", when(col("capped"), dec0)
        .otherwise(expr("(x_rem * w) % rem_w_star")))
      .withColumn("sum_remn", coalesce(sum(col("remn")).over(whole), dec0))
      .withColumn("leftover", when(col("rem_w_star") > dec0,
        expr("sum_remn DIV rem_w_star")).otherwise(lit(0L)))
      .withColumn("bump_rank", row_number().over(
        Window.partitionBy(part: _*)
          .orderBy(col("capped"), col("remn").desc, col("source"))))
      .withColumn("alloc",
        (col("base") + when(!col("capped") && col("bump_rank") <= col("leftover"),
          lit(1L)).otherwise(lit(0L))).cast("bigint"))
  }

  /** Plan-embedded input contract for the public solve entry points: a
    * negative supply would corrupt the ratio sort key and the capping
    * inequality, and a duplicated source breaks the Hamilton tie-break's
    * total order — both now fail LOUDLY inside the plan (raise_error tied
    * to the consumed columns, so pruning cannot elide the check; the
    * duplicate window rides the |sources|-row frame's existing source
    * clustering) instead of solving a silently-corrupted frame.
    */
  private def guardedSupplies(supplies: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    supplies
      .withColumn("supply",
        when(col("supply") >= 0, col("supply")).otherwise(raise_error(concat(
          lit("allocateFromSupplies: negative supply for source "),
          col("source")))))
      .withColumn("__nsrc",
        count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("source",
        when(col("__nsrc") === 1L, col("source")).otherwise(raise_error(concat(
          lit("allocateFromSupplies: duplicate source "), col("source")))))
      .drop("__nsrc")
  }

  def allocateFromSupplies(
      supplies: DataFrame,
      budgetPpm: Long,
      budgetDen: Long = 1000000L): DataFrame = {
    require(budgetPpm >= 0L, s"budgetPpm must be >= 0: $budgetPpm")
    require(budgetDen > 0L, s"budgetDen must be > 0: $budgetDen")
    import org.apache.spark.sql.expressions.Window
    val dec0 = lit(0L).cast("decimal(38,0)")
    val bySkey = Window.orderBy(col("skey"), col("source"))
    val whole = bySkey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val keyed = withWeightKey(guardedSupplies(supplies))
      .withColumn("t_total", sum(col("supply")).over(whole))
      .withColumn("w_total", sum(col("w")).over(whole))
      .withColumn("budget",
        expr(s"CAST(t_total * ${budgetPpm}L DIV ${budgetDen}L AS DECIMAL(38,0))"))
    waterfill(keyed, Seq.empty)
      .select(
        col("source"),
        col("supply").cast("bigint").as("supply_tokens"),
        col("w").cast("bigint").as("weight"),
        col("capped"),
        col("alloc").as("alloc_tokens"),
        expr("w * 1000000 DIV w_total").as("target_share_ppm"),
        when(col("budget") > dec0,
          expr("CAST(alloc AS DECIMAL(38,0)) * 1000000 DIV budget"))
          .as("achieved_share_ppm"),
        when(col("supply") > dec0,
          expr("CAST(alloc AS DECIMAL(38,0)) * 1000000 DIV supply"))
          .as("utilization_ppm"))
      .orderBy(col("source"))
  }

  /** Data-constrained allocation — the repeated-epochs regime (Muennighoff
    * et al. 2023, "Scaling Data-Constrained Language Models": repeating
    * data up to ~4 epochs costs little vs fresh tokens): when the training
    * budget EXCEEDS the fresh corpus, each source's effective supply is
    * `raw * maxEpochs` and the identical water-filling solve allocates the
    * budget over repeatable tokens. `budgetPpm` stays expressed against
    * the RAW corpus (2500000 = 2.5 corpus passes); exactness holds because
    * floor((raw*E*ppm)/(1e6*E)) = floor(raw*ppm/1e6) — numerator and
    * denominator scale together. Output adds `epochs_ppm` (allocated
    * passes over each source, 1e6 = one full epoch), computed as
    * `alloc * 1e6 * E DIV effective_supply`, identical to
    * `alloc * 1e6 DIV raw` by the same cancellation; `supply_tokens` in
    * this variant is the EFFECTIVE (repeatable) supply. Sources hitting
    * `epochs_ppm = 1e6 * maxEpochs` are the data-bound ones — the table a
    * budget review reads to decide where more crawl is worth buying.
    */
  def epochAllocation(
      documents: DataFrame,
      maxEpochs: Int = 4,
      budgetPpm: Long = 2500000L): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1: $maxEpochs")
    val scaled = supplyBySource(documents)
      .withColumn("supply",
        expr(s"CAST(supply * ${maxEpochs}L AS DECIMAL(38,0))"))
    allocateFromSupplies(scaled, budgetPpm,
        budgetDen = 1000000L * maxEpochs)
      .withColumn("epochs_ppm", when(col("supply_tokens") > 0,
        expr(s"CAST(alloc_tokens AS DECIMAL(38,0)) * ${1000000L * maxEpochs}L" +
          " DIV supply_tokens")))
      .orderBy(col("source"))
  }

  /** Curate-then-budget — the realistic pipeline order: drop each source's
    * quality tail FIRST (the same per-source keep rule as
    * [[Curation.perSourceQualityGate]], spec-asserted identical), then
    * water-fill the budget over the SURVIVING supplies. Quality gating
    * changes the solve's inputs non-uniformly (low-quality sources lose
    * more tokens), so the capped set and shares differ from gating after —
    * the ordering every curation pipeline argues about, made exact. One
    * corpus scan + the source rank shuffle feed the supply aggregation.
    */
  def curatedMixture(
      documents: DataFrame,
      stopwords: Seq[String],
      keepPpm: Long = 500000L,
      budgetPpm: Long = 900000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
    val kept = documents
      .withColumn("q", Curation.qualityScore(split(col("text"), " "), stopwords))
      .withColumn("r", row_number().over(bySrc).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("source"))).cast("long"))
      .filter(expr(s"r <= ($keepPpm * n + 999999) DIV 1000000"))
      .select(col("doc_id"), col("source"), col("text"))
    optimalMixture(kept, budgetPpm)
  }

  /** Hierarchical two-level allocation — the nested form every real
    * mixture config takes (Pile-style: budget domains first — web / code /
    * books — then sources within each domain): level 1 water-fills the
    * total budget across DOMAINS (domain supply = sum of its sources,
    * domain weight from the domain name), level 2 independently
    * water-fills EACH domain's allocation across its sources — one
    * partitioned window pass solves all domains simultaneously (the same
    * closed form with every window `PARTITION BY domain`). Because level-1
    * allocations never exceed domain supply, each level-2 solve
    * distributes its domain budget EXACTLY: per-domain sums equal the
    * domain allocation and the global sum equals the budget, token-exact
    * (spec-asserted).
    *
    * The domain here is content-derived for determinism (bits 3-4 of the
    * same mix64(fnv1a64(source)) draw the weight uses bits 0-2 of —
    * disjoint bits, so domain and weight are independent); a production
    * caller passes its real taxonomy as a source→domain column instead.
    */
  def hierarchicalMixture(
      documents: DataFrame,
      budgetPpm: Long = 900000L): DataFrame = {
    // the per-source frame feeds BOTH levels (the domain rollup and the
    // level-2 keyed frame): materialize it once (eager, ~|sources| rows)
    // so the corpus is scanned and per-source-aggregated exactly once
    val src = supplyBySource(documents)
      .withColumn("domain", concat(lit("dom"),
        shiftrightunsigned(
          GraftColumns.mix64(GraftColumns.fnv1a64(col("source"))), 3)
          .bitwiseAND(lit(3L)).cast("string")))
      .localCheckpoint()
    val domSup = src.groupBy(col("domain"))
      .agg(sum(col("supply")).cast("decimal(38,0)").as("supply"))
      .withColumnRenamed("domain", "source")
    val lvl1 = allocateFromSupplies(domSup, budgetPpm)
      .select(col("source").as("domain"),
        col("alloc_tokens").as("domain_budget"))
    val keyed = withWeightKey(src)
      .join(broadcast(lvl1), Seq("domain"))
      .withColumn("budget", col("domain_budget").cast("decimal(38,0)"))
    waterfill(keyed, Seq(col("domain")))
      .select(
        col("source"),
        col("domain"),
        col("supply").cast("bigint").as("supply_tokens"),
        col("w").cast("bigint").as("weight"),
        col("domain_budget").as("domain_budget_tokens"),
        col("capped"),
        col("alloc").as("alloc_tokens"))
      .orderBy(col("source"))
  }

  /** The solve ACTUATED: each source admits documents in the same
    * content-keyed priority order as [[tokenBudgetSample]] until its
    * ALLOCATED token budget (from [[optimalMixture]]) is crossed — the
    * straddling document is admitted, the standard budget-sampling
    * semantic — then a per-source rollup audits realized vs allocated
    * mass. This closes the loop from "the optimizer says take N tokens of
    * src_k" to an actual sampled corpus: `overshoot_tokens` is bounded by
    * one document per source (spec-asserted), capped sources admit their
    * entire supply exactly, and admission inherits the gate family's
    * determinism (reorder/growth-stable, duplicate-consistent).
    *
    * Scale shape: the solve's per-source aggregation plus one admission
    * scan with a per-source window cumsum (the tokenBudgetSample shape);
    * the 20-row allocation broadcasts into the admission filter.
    */
  /** Documents admitted under a standing allocation frame: the
    * tokenBudgetSample order (content-keyed priority, doc_id ties) with
    * the per-source budget joined from `alloc` instead of a constant map.
    */
  private def admittedUnder(
      documents: DataFrame, alloc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("pick_pri"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.wsTokenCount(col("text")).as("tokens"),
        textUniform(col("text")).as("pick_pri"))
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .join(broadcast(alloc.select(col("source"), col("alloc_tokens"))),
        Seq("source"))
      .filter(col("cum_tokens") - col("tokens") < col("alloc_tokens"))
      .select(col("doc_id"), col("source"), col("tokens"), col("cum_tokens"))
  }

  /** The budget-admitted corpus as per-document rows (doc_id, source,
    * tokens, cum_tokens) — the solve's alloc actuating document selection;
    * [[admissionAudit]] is its per-source rollup and
    * [[SparkEntry]]'s mixture_train_manifest packs it into loader batches.
    */
  /** The solve's |sources|-row allocation frame, materialized ONCE
    * (eager): every actuation consumer (the admission filter's broadcast,
    * the audit join, the manifest packing) re-derives it otherwise, and
    * each re-derivation is a full corpus supply-aggregation scan — the
    * solve is cheap, its INPUT scan is not.
    */
  private def allocCheckpointed(
      documents: DataFrame, budgetPpm: Long): DataFrame =
    optimalMixture(documents, budgetPpm).localCheckpoint()

  def admittedDocs(
      documents: DataFrame,
      budgetPpm: Long = 900000L): DataFrame =
    admittedUnder(documents, allocCheckpointed(documents, budgetPpm))

  def admissionAudit(
      documents: DataFrame,
      budgetPpm: Long = 900000L): DataFrame = {
    val alloc = allocCheckpointed(documents, budgetPpm)
      .select(col("source"), col("supply_tokens"), col("alloc_tokens"),
        col("capped"))
    val admitted = admittedUnder(documents, alloc)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("admitted_docs"),
        sum(col("tokens")).as("admitted_tokens"))
    alloc.join(admitted, Seq("source"), "left")
      .select(col("source"), col("supply_tokens"), col("alloc_tokens"),
        col("capped"),
        coalesce(col("admitted_docs"), lit(0L)).as("admitted_docs"),
        coalesce(col("admitted_tokens"), lit(0L)).as("admitted_tokens"),
        (coalesce(col("admitted_tokens"), lit(0L)) - col("alloc_tokens"))
          .as("overshoot_tokens"))
      .orderBy(col("source"))
  }

  /** Streaming mixture control: the per-source supplies become a standing
    * streaming aggregation (complete mode — state is one running sum per
    * source, tiny at any corpus rate), and EVERY micro-batch re-runs the
    * identical [[allocateFromSupplies]] closed-form solve over the standing
    * totals, handing the fresh allocation to `sink`. This is the live
    * version of the mixture review loop: as a crawl/ingest stream grows
    * some sources faster than others, the capped set and the re-flowed
    * budget move batch by batch, and the last emitted table always equals
    * the batch solve over everything ingested so far (parity is structural
    * — same code — and spec-asserted over a MemoryStream).
    */
  def optimalMixtureStream(docs: DataFrame, budgetPpm: Long = 600000L)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    supplyBySource(docs).writeStream
      .outputMode("complete")
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) => sink(allocateFromSupplies(b.toDF(), budgetPpm), id))
      .start()

  /** The budget→batches loop ACTUATED incrementally — the streaming form
    * of [[admittedDocs]], composing [[optimalMixtureStream]]'s per-batch
    * re-solve with admission against a STANDING per-source ledger:
    *
    *  1. standing supplies advance by each micro-batch's per-source token
    *     sums (ledger state = two longs per source — the
    *     [[optimalMixtureStream]] complete-mode envelope, held driver-side
    *     like every model frame here);
    *  2. the identical closed-form solve re-runs over the standing totals
    *     (so the capped set and re-flowed budget move batch by batch);
    *  3. the batch's arrivals are admitted through the SAME
    *     [[admittedUnder]] rule with the per-source budget offset by
    *     tokens already admitted in earlier batches (`alloc −
    *     admitted_before` — algebraically the batch rule resumed
    *     mid-cumsum), and the ledger advances by what was admitted.
    *
    * Semantics: within a batch, admission order is the batch rule's
    * content-keyed priority; ACROSS batches it is arrival order — the
    * standard streaming-admission semantic (history cannot be re-ranked
    * when the solve later shifts budget between sources). Parity is
    * therefore exact when the corpus arrives in one batch (spec-pinned
    * row-for-row against [[admittedDocs]]) and invariant-pinned across
    * multi-batch cuts: per-source admitted ≤ supply, overshoot of the
    * CURRENT allocation bounded by one straddling doc per source per
    * batch, and the standing supplies always equal the batch aggregate.
    *
    * Scale per micro-batch: one pass over the batch (token count + the
    * per-source cumsum window) plus the bounded-model solve; nothing
    * rescans history.
    *
    * Replay contract: the ledger is SESSION state (not checkpoint-backed),
    * so a restarted query re-seeds from zero and must replay the source
    * from the beginning — the same complete-mode envelope as
    * [[optimalMixtureStream]]'s standing supplies. Exactly-once admission
    * across restarts needs the ledger in a transactional sink (the
    * [[graft.sources.Sources]] upsert pattern), deliberately out of scope
    * here like every foreachBatch sink in this library.
    */
  def admittedDocsStream(docs: DataFrame, budgetPpm: Long = 900000L)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // source -> (supplyTokens, admittedTokens): the standing ledger
    val ledger = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        val spark = b.sparkSession
        import spark.implicits._
        // the batch feeds two consumers (supply update + admission):
        // materialize once, batch-sized
        val batch = b.toDF()
          .select(col("doc_id"), col("source"), col("text"))
          .localCheckpoint()
        batch
          .select(col("source"),
            graft.functions.TextAnalysis.wsTokenCount(col("text")).as("t"))
          .groupBy(col("source")).agg(sum(col("t")).as("t"))
          .collect()
          .foreach { r =>
            ledger.merge(r.getString(0), (r.getLong(1), 0L),
              (a, nw) => (a._1 + nw._1, a._2))
          }
        val standing = ledger.entrySet().iterator()
        val supplies = scala.collection.mutable.ArrayBuffer.empty[(String, BigDecimal)]
        while (standing.hasNext) {
          val e = standing.next()
          supplies += ((e.getKey, BigDecimal(e.getValue._1)))
        }
        val alloc = allocateFromSupplies(
          supplies.toSeq.toDF("source", "supply")
            .select(col("source"),
              col("supply").cast("decimal(38,0)").as("supply")),
          budgetPpm)
          .select(col("source"), col("alloc_tokens")).collect()
        // per-source budget resumed mid-cumsum: alloc − already admitted
        val eff = alloc.toSeq.map { r =>
          val src = r.getString(0)
          (src, r.getLong(1) - ledger.get(src)._2)
        }.toDF("source", "alloc_tokens")
        val admitted = admittedUnder(batch, eff).localCheckpoint()
        admitted.groupBy(col("source")).agg(sum(col("tokens")).as("t"))
          .collect()
          .foreach { r =>
            ledger.merge(r.getString(0), (0L, r.getLong(1)),
              (a, nw) => (a._1, a._2 + nw._2))
          }
        sink(admitted, id)
      }
      .start()
  }

  /** Distribution-matched admission, streamed — the incremental form of
    * [[distMatchedSample]], following [[admittedDocsStream]]'s ledger
    * discipline:
    *
    *  1. a standing per-bucket histogram ledger (bucket → reference count,
    *     pool count, admitted count — ≤8 triples, driver-held like every
    *     model frame here) advances by each micro-batch's counts;
    *  2. the IDENTICAL Hamilton apportionment re-runs over the standing
    *     histograms (driver-side BigInt over ≤8 buckets — the same
    *     tie-break as the batch quota solve: remainder desc, bucket asc);
    *  3. the batch's pool arrivals are admitted per bucket by the same
    *     content-keyed (pri, doc_id) rank, up to `quota − admitted_before`
    *     (never negative: quotas can SHRINK between batches — Hamilton is
    *     not monotone and the reference histogram shifts — but admission
    *     never retracts; `pick_rank = admitted_before + batch_rank` keeps
    *     per-bucket ranks dense across batches).
    *
    * When the whole corpus arrives in one batch the emitted rows equal
    * the batch operator's row for row (spec-pinned, like the mixture
    * admission's parity contract).
    */
  def distMatchedStream(docs: DataFrame, refSource: String = "src0",
      samplePpm: Long = 400000L)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(samplePpm >= 0L && samplePpm <= 1000000L, s"samplePpm: $samplePpm")
    // bucket -> (refN, poolN, admitted): the standing histogram ledger
    val ledger =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        val spark = b.sparkSession
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        val bucket = graft.functions.TextAnalysis.lengthBucket(
          graft.functions.TextAnalysis.wsTokenCount(col("text")))
        val batch = b.toDF().select(col("doc_id"),
          (col("source") === lit(refSource)).as("is_ref"),
          bucket.cast("int").as("bucket"),
          textPriority(col("text")).as("pri"))
          .localCheckpoint()
        batch.groupBy(col("bucket"), col("is_ref"))
          .agg(count(lit(1)).as("n")).collect().foreach { r =>
            val add = if (r.getBoolean(1)) (r.getLong(2), 0L, 0L)
              else (0L, r.getLong(2), 0L)
            ledger.merge(r.getInt(0), add,
              (a, nw) => (a._1 + nw._1, a._2 + nw._2, a._3))
          }
        // Standing Hamilton solve — BigInt twin of the batch quota CTEs.
        val st = {
          val it = ledger.entrySet().iterator()
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long, Long)]
          while (it.hasNext) {
            val e = it.next()
            buf += ((e.getKey, e.getValue._1, e.getValue._2, e.getValue._3))
          }
          buf.sortBy(_._1).toSeq
        }
        val refTot = BigInt(st.map(_._2).sum)
        val nTarget = BigInt(st.map(_._3).sum) * samplePpm / 1000000L
        val quotas: Map[Int, Long] =
          if (refTot == 0) Map.empty
          else {
            val fl = st.map(e => (e._1, nTarget * e._2 / refTot,
              (nTarget * e._2) % refTot))
            val leftover = (nTarget - fl.map(_._2).sum).toLong
            // remainder desc, bucket asc — leftover < #nonzero-remainder
            // buckets always (Σrem < #nonzero · refTot), so restricting
            // the candidates to rem > 0 matches the batch bump exactly
            val bumped = fl.filter(_._3 > 0).sortBy(e => (e._3, e._1))(
              Ordering.Tuple2(Ordering.BigInt.reverse, Ordering.Int))
              .take(math.max(leftover, 0L).toInt).map(_._1).toSet
            fl.map(e => e._1 ->
              (e._2 + (if (bumped(e._1)) 1 else 0)).toLong).toMap
          }
        val rem = st.map { case (bk, _, _, adm) =>
          val q = quotas.getOrElse(bk, 0L)
          (bk, math.max(q - adm, 0L), q, adm)
        }.toDF("bucket", "remaining", "quota", "admitted_before")
        val w = Window.partitionBy(col("bucket"))
          .orderBy(col("pri"), col("doc_id"))
        val admitted = batch.filter(!col("is_ref"))
          .withColumn("batch_rank", row_number().over(w).cast("long"))
          .join(broadcast(rem), Seq("bucket"))
          .filter(col("batch_rank") <= col("remaining"))
          .select(col("doc_id"), col("bucket"),
            (col("admitted_before") + col("batch_rank")).as("pick_rank"),
            col("quota"))
          .orderBy(col("bucket"), col("pick_rank"))
          .localCheckpoint()
        admitted.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .collect().foreach { r =>
            ledger.merge(r.getInt(0), (0L, 0L, r.getLong(1)),
              (a, nw) => (a._1, a._2, a._3 + nw._3))
          }
        sink(admitted, id)
      }
      .start()
  }

  def rendezvousShards(documents: DataFrame, shards: Int = 32): DataFrame = {
    val h = GraftColumns.fnv1a64(col("text"))
    def best(n: Int): Column = {
      val cand = transform(
        sequence(lit(0L), lit(n.toLong - 1)),
        s => struct(GraftColumns.mix64(h.bitwiseXOR(s)).as("w"), (-s).as("ns")))
      (element_at(array_sort(cand), -1).getField("ns") * -1).as(s"shard$n")
    }
    documents
      .select(col("doc_id"), best(shards).as("shard_now"),
        best(shards + 1).as("shard_grown"))
      .groupBy(col("shard_now").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("shard_grown") === shards, 1L).otherwise(0L))
          .as("n_moving_to_new"),
        sum(when(col("shard_grown") =!= col("shard_now") &&
          col("shard_grown") =!= shards, 1L).otherwise(0L))
          .as("n_illegal_moves"))
      .orderBy(col("shard"))
  }
}
