package graft

import graft.gen.{DocGen, EventGen}
import graft.operators.{Dedup, DistributedRank, Hll, HourlyAggregation, Mixture,
  Sessionize, Similarity, Upsert}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Ad-hoc scale smoke: run the core operators AND the LLM-pipeline
  * operators (dedup/LSH/ANN/sketch/mixture/rank) on generator-synthesized
  * frames at 1x, 10x and 100x the sf0.1 row counts (events 100k, documents
  * 5k, embeddings 2k) and report wall times, to check the cost curves stay
  * ~linear (SCALING.md evidence).
  *
  * Methodology: inputs are cached and materialized before timing so scan
  * generation isn't charged to the operators; every operator runs twice
  * (t1 cold, t2 warm) — the curve uses min(t1, t2) except for operators
  * whose SECOND run legitimately hits a session result cache
  * (dedup_clusters' label cache, ann_ivf's quantizer cache): there t1 is
  * the honest cost and t2 is reported to show the documented reuse win.
  */
object ScaleSmoke {

  // minhash_lsh_pairs is measured through the `pairs` frame this smoke
  // itself caches (so dedup_clusters can reuse it) — its second count() is
  // a cache read, so t1 is the honest cost there too.
  private val firstRunOnly = Set("dedup_clusters", "ann_ivf", "minhash_lsh_pairs")

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)

    // (op, scale) -> (t1, t2, rows)
    val results = ArrayBuffer[(String, Int, Double, Double, Long)]()

    // optional args: arg0 = comma-separated op subset, arg1 =
    // comma-separated scale subset (local iteration; recorded SCALING.md
    // tables come from full runs)
    val onlyOps: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    val onlyScales: Option[Set[Int]] =
      if (args.length > 1) Some(args(1).split(",").map(_.toInt).toSet)
      else None

    // Full-plan force for report-shaped queries ending in "base LEFT
    // JOIN per-key aggregates": a count() lets Catalyst eliminate the
    // provably-cardinality-neutral joins and prune every column, timing
    // an empty pipeline. toRdd keeps all output columns required.
    def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

    def time(tag: String, scale: Int)(f: => Long): Unit = {
      if (!onlyOps.forall(_.contains(tag))) return
      // each run releases its pins outside the timer: a ranking op's
      // second run would otherwise read the first run's pinned frame
      def once(): (Double, Long) = Harness.run(spark) {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }.toTry.get
      val (t1, n) = once(); val (t2, _) = once()
      results += ((tag, scale, t1, t2, n))
      println(f"SCALE $scale%3d  $tag%-24s t1=$t1%7.2f s  t2=$t2%7.2f s  rows=$n")
    }

    for (scale <- Seq(1, 10, 100).filter(s => onlyScales.forall(_.contains(s)))) {
      val nEvents = 100000L * scale
      val nDocs = 5000L * scale
      val nEmb = 2000L * scale
      println(s"=== scale ${scale}x: events=$nEvents docs=$nDocs embeddings=$nEmb ===")

      val ev = EventGen.batch(spark, nEvents, userPool = (nEvents / 1000).toInt).cache()
      ev.count()
      time("hourly_agg", scale)(HourlyAggregation(ev).count())
      time("sessionize_stats", scale)(Sessionize.sessionStats(ev).count())
      time("o14_last_write_wins", scale)(
        Upsert.lastWriteWins(ev, Seq("user_id", "event_type"),
          Seq(col("ts"), col("event_id"))).count())
      time("funnel_conversion", scale)(graft.queries.Analytics.funnel(ev).count())
      time("errors_near_purchases", scale)(
        graft.operators.RangeJoin.errorsNearPurchases(ev).count())
      // round-8 phase 7: the sequence shapes (lead window / islands /
      // session-path rollup) — all user_id-keyed window passes
      time("activity_streaks", scale)(
        graft.queries.Analytics.activityStreaks(ev).count())
      time("event_transitions", scale)(
        graft.queries.Analytics.eventTransitions(ev).count())
      time("session_paths", scale)(
        graft.queries.Analytics.sessionPaths(ev).count())
      val withW = ev
        .withColumn("w", window(col("ts"), "1 hour"))
        .select(col("w.start").as("window_start"), col("event_type"), col("user_id"))
      time("hourly_agg_approx", scale)(
        Hll.approxDistinctUsersWithCount(
          withW, Seq("window_start", "event_type"), "user_id").count())
      time("rank_stats", scale)(
        DistributedRank.withRankStats(
          ev, Seq(col("value").desc, col("event_id")), 4,
          "tile", "pct", "cume").count())
      // round-8 event operators: the native merging-window aggregate, the
      // 4x-expand hopping windows (+ exact distinct), the two-window run
      // compaction, and the dyadic decay (two keyed aggregates)
      time("session_window_stats", scale)(Sessionize.sessionWindows(ev).count())
      time("sliding_window_counts", scale)(
        graft.queries.Analytics.slidingWindowCounts(ev).count())
      time("event_type_intervals", scale)(
        graft.queries.Analytics.eventTypeIntervals(ev).count())
      time("time_decay_totals", scale)(
        graft.queries.Analytics.timeDecayTotals(ev).count())
      // market-basket pairs over (user, event_type) baskets: one keyed
      // shuffle into baskets, in-row pair expansion (≤ C(10,2) per user),
      // pair/marginal aggregates bounded by type²
      time("copurchase_pairs", scale)(
        graft.queries.Analytics.copurchasePairs(
          ev.select(col("user_id").as("l_orderkey"),
            xxhash64(col("event_type")).as("l_partkey"))).count())
      // KMV sketch: bounded (≤2K longs) mergeable agg state — the curve
      // must be pure scan+combine
      time("kmv_distinct", scale)(
        graft.operators.Kmv.kmvDistinct(ev).count())
      // grouped CV folds: one scan + K-bounded aggregate + the
      // (user, fold) distinct audit frame
      time("cv_folds", scale)(graft.operators.Folds.cvFolds(ev).count())
      // orders-shaped slices mapped from the event generator: bootstrap
      // is one scan with 2B counters; target encoding folds to
      // |categories| and broadcasts back; OLS folds to |segments| moments
      val pseudoOrders = ev.select(
        col("event_id").as("o_orderkey"),
        col("user_id").as("o_custkey"),
        col("event_type").as("o_orderpriority"),
        coalesce(col("value"), lit(0.0)).as("o_totalprice"),
        col("ts").as("o_orderdate"))
      val pseudoCust = ev.select(col("user_id").as("c_custkey"),
          col("event_type").as("c_mktsegment"))
        .groupBy(col("c_custkey")).agg(first(col("c_mktsegment")).as("c_mktsegment"))
      time("bootstrap_ci", scale)(
        graft.operators.FeatureEng.bootstrapCi(pseudoOrders).count())
      time("target_encode", scale)(
        graft.operators.FeatureEng.targetEncode(pseudoOrders).count())
      time("ols_trend", scale)(
        graft.operators.TableStats.olsTrend(pseudoOrders, pseudoCust).count())
      // RFM: three range-partitioned rankings of the per-customer frame
      time("rfm_segments", scale)(
        graft.queries.Analytics.rfmSegments(pseudoOrders).count())
      // round-9 additions over the event/order slices:
      // column_stats (counters pass + one stacked distinct pass per
      // table — the curve must be scan-bound)
      time("column_stats", scale)(
        graft.operators.TableStats.columnStats(
          pseudoOrders.withColumn("o_orderstatus",
            substring(col("o_orderpriority"), 1, 1)), ev).count())
      // Markov next-event: one lag window keyed by user + broadcast model
      time("markov_next_event", scale)(
        graft.operators.Eval.markovNextEvent(ev).count())
      // EWMA chart: corpus scan to the time-bounded hourly frame, then
      // the sequential fold on |types|x|hours| only
      time("ewma_anomalies", scale)(
        graft.operators.Changepoint.ewmaAnomalies(ev).count())
      // basket mining: in-row i<j pair generation over ~4-line baskets;
      // part dimension scales with the corpus like a real catalog
      val pseudoLineitem = ev.select(
        (col("event_id") / 4).cast("long").as("l_orderkey"),
        pmod(col("event_id") * 2654435761L,
          lit(math.max(nEvents / 40L, 50L))).as("l_partkey"))
      time("assoc_rules", scale)(
        graft.operators.Association.assocRules(pseudoLineitem).count())
      time("itemrec_hitrate", scale)(
        graft.operators.Association.itemrecHitrate(pseudoLineitem).count())
      // round-9 late additions: chained min-agg funnel, RANGE-window
      // attribution, sequential Holt fold, user-keyed growth split
      time("window_funnel_depth", scale)(
        graft.queries.Analytics.windowFunnelDepth(ev).count())
      time("linear_attribution", scale)(
        graft.queries.Analytics.linearAttribution(ev).count())
      time("holt_forecast", scale)(
        graft.operators.Changepoint.holtForecast(ev).count())
      time("new_vs_returning", scale)(
        graft.queries.Analytics.newVsReturning(ev).count())
      time("equidepth_histogram", scale)(
        graft.operators.Histogram.equidepthHistogram(
          pseudoLineitem.withColumn("l_extendedprice",
              (col("l_partkey") % 997L).cast("double") / 100.0)
            .withColumn("l_linenumber", col("l_orderkey"))).count())
      // round-10 additions — experiment/robust-stat operators:
      // Mann-Whitney ranks the purchase frame (range-partitioned),
      // KM folds per-customer min/max to the day-bounded walk,
      // uplift/trimmed ride the exact ntile, Shapley is catalog-bounded
      // 2^|C|, Theil-Sen pairs are hour²-bounded, Simpson/DiD/isotonic
      // fold to constant-size cells
      time("mann_whitney", scale)(
        graft.operators.Experiment.mannWhitney(ev).count())
      time("km_survival", scale)(
        graft.operators.Survival.kmSurvival(pseudoOrders).count())
      time("uplift_deciles", scale)(
        graft.operators.Experiment.upliftDeciles(ev).count())
      time("simpson_reversal", scale)(
        graft.operators.Experiment.simpsonReversal(ev).count())
      time("diff_in_diff", scale)(
        graft.operators.Experiment.diffInDiff(ev).count())
      time("theil_sen_trend", scale)(
        graft.operators.RobustStats.theilSen(ev).count())
      time("shapley_attribution", scale)(
        graft.operators.Shapley.shapleyAttribution(ev).count())
      time("isotonic_calibration", scale)(
        graft.operators.FeatureEng.isotonicCalibration(ev).count())
      time("trimmed_means", scale)(
        graft.operators.RobustStats.trimmedMeans(
          pseudoOrders, pseudoCust).count())
      time("jackknife_ratio", scale)(
        graft.operators.Experiment.jackknifeRatio(ev).count())
      time("cmh_pooled_odds", scale)(
        graft.operators.Experiment.cmhPooledOdds(ev).count())
      time("psm_att", scale)(
        graft.operators.Experiment.psmAtt(ev).count())
      time("nb_fit", scale)(
        graft.operators.Experiment.nbFit(ev).count())
      time("ab_wilson", scale)(
        graft.operators.Experiment.abWilson(ev).count())
      time("srm_check", scale)(
        graft.operators.Experiment.srmCheck(ev).count())
      time("qte_quartiles", scale)(
        graft.operators.RobustStats.qteQuartiles(ev).count())
      time("spearman_engagement_spend", scale)(
        graft.operators.RobustStats.spearmanEngagementSpend(ev).count())
      time("sorted_neighborhood_quality", scale)(
        graft.operators.EntityResolution.sortedNeighborhoodQuality(
          pseudoCust).count())
      // round-8 driver-round-8 session: time-bounded folds + experiment
      // estimators + bounding passes
      time("kendall_tau", scale)(
        graft.operators.RobustStats.kendallTau(ev).count())
      time("mann_kendall", scale)(
        graft.operators.RobustStats.mannKendall(ev).count())
      time("acf_profile", scale)(
        graft.operators.Changepoint.acfProfile(ev).count())
      time("forecast_eval", scale)(
        graft.operators.Changepoint.forecastEval(ev).count())
      time("brier_decomposition", scale)(
        graft.operators.Eval.brierDecomposition(ev).count())
      time("watermark_lateness", scale)(
        graft.operators.Lateness.watermarkLateness(ev).count())
      time("range_partition_plan", scale)(
        force(graft.operators.Layout.rangePartitionPlan(pseudoOrders)))
      time("croston_forecast", scale)(
        graft.operators.Changepoint.crostonForecast(ev.select(
          pmod(col("event_id") * 2654435761L,
            lit(math.max(nEvents / 40L, 50L))).as("l_partkey"),
          (pmod(col("event_id"), lit(7L)) + 1L).cast("double")
            .as("l_quantity"),
          col("ts").as("l_shipdate"))).count())
      time("page_hinkley", scale)(
        graft.operators.Changepoint.pageHinkley(ev).count())
      time("holt_winters", scale)(
        graft.operators.Changepoint.holtWinters(ev).count())
      time("eb_shrinkage", scale)(
        graft.operators.Experiment.ebShrinkage(ev).count())
      time("neyman_allocation", scale)(
        graft.operators.Experiment.neymanAllocation(ev).count())
      time("contribution_capped_agg", scale)(
        graft.operators.Privacy.contributionCappedAgg(ev).count())
      val pseudoCustFull = pseudoCust
        .withColumn("c_nationkey", pmod(col("c_custkey"), lit(25L)).cast("int"))
        .withColumn("c_acctbal",
          (col("c_custkey") % 997L).cast("double") * 10.0)
        .withColumn("c_name", concat(lit("c"), col("c_custkey")))
      time("l_diversity", scale)(
        graft.operators.Privacy.recursiveLDiversity(pseudoCustFull).count())
      time("fs_mu_estimates", scale)(
        graft.operators.EntityResolution.fsMuEstimates(pseudoCustFull)
          .count())
      time("zonemap_skip_audit", scale)(
        graft.operators.Layout.zonemapSkipAudit(
          pseudoLineitem.withColumn("l_extendedprice",
              (col("l_partkey") % 997L).cast("double") / 100.0)
            .withColumn("l_linenumber", col("l_orderkey")),
          loCents = 10000L, hiCents = 10500L).count())
      time("fd_violations", scale)(
        graft.operators.DataQuality.fdViolations(
          pseudoOrders.withColumn("o_orderstatus",
            substring(col("o_orderpriority"), 1, 1)),
          pseudoLineitem.withColumn("l_suppkey",
            pmod(col("l_partkey"), lit(97L))),
          ev,
          ev.select(col("event_id").as("doc_id"),
            col("event_type").as("source"),
            substring(col("event_type"), 1, 1).as("lang"))
            .withColumn("text", lit("")).withColumn("n_chars", lit(0L)))
          .count())
      // round-9 session: multiple-testing / robust / sequence additions.
      // bh_fdr is one (stratum,user) reduction + a 2B-counter wide agg
      // per stratum; ar2/max_burst fold calendar-bounded grids;
      // hodges_lehmann's pair frame is observed-hours² (flat when the
      // generator densifies a fixed span, quadratic only in the
      // CALENDAR); ransac scores a broadcast |types|·B model frame;
      // ldp/gini_stump are scan-shaped aggregates.
      time("bh_fdr", scale)(
        graft.operators.MultipleTesting.bhFdr(ev).count())
      time("ar2_forecast", scale)(
        graft.operators.Autoregression.ar2YuleWalker(ev).count())
      time("max_burst_window", scale)(
        graft.operators.SeqAlign.maxBurstWindow(ev).count())
      time("hodges_lehmann", scale)(
        graft.operators.RobustStats.hodgesLehmann(ev).count())
      time("ransac_trend", scale)(
        graft.operators.Ransac.ransacTrend(ev).count())
      time("ldp_randomized_response", scale)(
        graft.operators.Privacy.ldpRandomizedResponse(ev).count())
      time("gini_stump", scale)(
        graft.operators.DecisionStump.giniStump(ev).count())
      time("ips_policy_value", scale)(
        graft.operators.OffPolicy.ipsPolicyValue(ev).count())
      time("nelson_aalen", scale)(
        graft.operators.Survival.nelsonAalen(
          pseudoOrders.select(col("o_custkey"), col("o_orderdate"))).count())
      // omnibus k-group tests: value-domain histograms + grid windows
      time("kruskal_wallis", scale)(
        graft.operators.GroupTests.kruskalWallis(ev).count())
      time("cochran_armitage", scale)(
        graft.operators.GroupTests.cochranArmitage(ev).count())
      time("brown_forsythe", scale)(
        graft.operators.GroupTests.brownForsythe(ev).count())
      time("jonckheere_terpstra", scale)(
        graft.operators.GroupTests.jonckheereTerpstra(ev).count())
      ev.unpersist()

      val docs = DocGen.documents(spark, nDocs).cache()
      docs.count()
      // the at-scale pair source is LSH banding (the quadratic
      // ngram-jaccard verifier is a bounded primitive, not the corpus path)
      val pairs = Dedup.minhashLshPairs(docs).cache()
      time("minhash_lsh_pairs", scale)(pairs.count())
      time("dedup_clusters", scale)(Dedup.nearDupClusters(docs, pairs).count())
      time("token_topk_cms", scale)(
        graft.functions.TextAnalysis.tokenTopkCms(docs).count())
      time("source_mixture_sample", scale)(
        Mixture.sampleBySource(docs, Mixture.DriverRates).count())
      // round-11 session 4: water-filling allocation — cost should be the
      // per-source aggregation alone (the solve is a |sources|-row window)
      time("mixture_optimal_alloc", scale)(
        force(Mixture.optimalMixture(docs, budgetPpm = 900000L)))
      // solve + per-source admission window (the tokenBudgetSample shape)
      time("mixture_admission_audit", scale)(
        force(Mixture.admissionAudit(docs, budgetPpm = 900000L)))
      // two-level solve: both levels are |sources|/|domains|-row windows
      time("mixture_hierarchical", scale)(
        force(Mixture.hierarchicalMixture(docs, budgetPpm = 900000L)))
      // gate windows + solve (one scan + source shuffle feed the supplies)
      time("curated_mixture_alloc", scale)(
        force(Mixture.curatedMixture(docs, Seq("the", "a", "of", "and"))))
      // budget -> admitted corpus -> HRW/bin manifest, one plan
      time("mixture_train_manifest", scale)(
        force(graft.operators.Pack.trainingBatchManifest(
          docs.join(Mixture.admittedDocs(docs, 900000L)
            .select(col("doc_id")), Seq("doc_id")))))
      // per-source exact quantile gate: shuffle on source + the
      // DistributedRank global rank (range partition, no single-partition
      // window); curve should track the corpus sort
      time("per_source_quality_gate", scale)(
        force(graft.operators.Curation.perSourceQualityGate(
          docs, Seq("the", "a", "of", "and"))))
      time("cross_doc_ngrams", scale)(
        Dedup.crossDocNgramOverlap(docs).count())
      time("doc_perplexity", scale)(
        graft.functions.TextAnalysis.bigramNll(docs).count())
      time("tfidf_top_terms", scale)(
        graft.functions.TextAnalysis.tfidfTopTerms(docs).count())
      time("curation_funnel", scale)(
        graft.operators.Curation.funnel(docs, Seq("the", "a", "of", "and")).count())
      // round-8: inverted-index build (explode + two keyed aggregates with
      // an in-row posting sort — vocabulary-bounded output)
      time("token_postings", scale)(
        graft.functions.TextAnalysis.tokenPostings(docs).count())
      // round-8 phase 5: 3 rounds of keyed join+aggregate over the
      // shared-span graph (edge build once + localCheckpoint; the curve
      // should track the EDGE count, which the df-cap keeps ~linear in docs)
      time("doc_pagerank", scale)(
        force(graft.operators.Centrality.docPagerank(docs)))
      // round-8 phase 4: per-source prefix sum + output-bounded explode
      time("token_pack_bins", scale)(
        graft.functions.TextAnalysis.tokenPackBins(docs).count())
      // round-8 phase 7: triangle join on the same df-capped edge list
      // (edges grow ~linearly under the cap, wedge checks bound the join)
      time("doc_triangles", scale)(
        force(graft.operators.Centrality.docTriangles(docs)))
      // round-8 phase 7: per-doc O(len) native winnowing (the production
      // path — map-only scan; the declarative verifier is not the scale
      // candidate, same as ngram_jaccard_pairs)
      time("winnow_native", scale)(
        graft.functions.TextAnalysis.winnowFingerprintsNative(docs).count())
      // round-11: perceptual-hash image near-dup — map-only dHash over
      // REAL decoded BMP bytes, then the pigeonhole band join; the curve
      // should track docs ~linearly (band keys keep buckets small)
      time("image_near_dups", scale)(
        graft.multimodal.Multimodal.imageNearDups(spark, docs).count())
      // round-11: the collapse-then-band scale path over the same dHashes —
      // identical fingerprints collapse BEFORE banding, so the dup-class
      // pair blow-up the plain curve documents never materializes; the
      // curve should stay ~flat in output size (distinct fps are bounded)
      time("image_near_dups_collapsed", scale)(
        graft.multimodal.Multimodal.imageNearDupsCollapsed(spark, docs).count())
      // round-11: audio envelope-hash near-dup (REAL javax.sound decode +
      // collapse-then-band) — same shape as the collapsed image path
      time("audio_near_dups", scale)(
        graft.multimodal.Multimodal.audioNearDups(spark, docs).count())
      // round-11: video near-dup — per-doc stride-sampled frame decodes
      // (~4 REAL BMP parses/doc) folded by per-bit majority, then the
      // collapse-then-band join; map-only + distinct-sig-bounded
      time("video_near_dups", scale)(
        graft.multimodal.Multimodal.videoNearDups(spark, docs).count())
      // round-11: composed cross-modal funnel — one three-codec decode
      // scan (recomputed for the two banded-drop subtrees), three window
      // shuffles on 44-byte fingerprint rows, two banded drop joins
      time("crossmodal_dedup_funnel", scale)(
        graft.multimodal.Multimodal.crossmodalDedupFunnel(spark, docs).count())
      // round-11: incremental cross-modal gate — arrivals (1/20 of docs)
      // probed against the standing corpus on all three fingerprints;
      // banded probe-vs-index joins + three arrival-scoped windows
      time("incremental_crossmodal", scale)(
        graft.multimodal.Multimodal.incrementalCrossmodal(
          spark,
          docs.filter(col("doc_id") % 20 === 0),
          docs.filter(col("doc_id") % 20 =!= 0)).count())
      // round-11: full multimodal loop — gates + survivor semi-join +
      // manifest pack; rides the funnel's flag subtree plus Pack's one
      // uniform shuffle
      time("crossmodal_train_manifest", scale)(
        graft.operators.Pack.trainingBatchManifest(
          docs.join(
              graft.multimodal.Multimodal.crossmodalSurvivors(spark, docs),
              Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("text"))).count())
      // round-11: BPE merge learning at realistic depth — vocabulary
      // grows with scale (~5k/50k/500k distinct pseudo-words), 256
      // merges; the loop is driver-local over the collected (word,count)
      // frame with incremental pair-count maintenance, so the curve must
      // track vocab x touched-words, never raw corpus rows
      val bpeDocs = spark.range(nDocs)
        .select(expr(
          "concat_ws(' ', transform(sequence(0, 7), i -> " +
            s"substr(md5(cast(pmod(xxhash64(id * 8 + i), $nDocs) AS string)), 1, 8)))")
          .as("text"))
      time("bpe_merges_256", scale)(
        force(graft.operators.BpeTrainer.learnMerges(
          bpeDocs, 256, maxVocabRows = 4000000)))
      // trained quality classifier: 12 GD rounds, each ONE map-only
      // scoring pass over the persisted 65-long feature frame + ONE
      // 65-key map-side-combined shuffle; the curve should track the
      // n-gram explode (the feature build), not iterations x corpus
      time("quality_classifier", scale)(
        force(graft.operators.QualityClassifier.scoreConfusion(docs)))
      // K-head joint fit: same plan shape as the binary trainer (K sums
      // ride the one 65-key gradient shuffle), so the curve should track
      // quality_classifier, not K x it
      time("domain_classifier", scale)(
        force(graft.operators.DomainClassifier.confusion(docs)))
      // reliability table: one scoreDocs pass + a DistributedRank over
      // (yhat, doc_id) + a 10-row rollup — the curve should track the
      // feature build like quality_classifier, with the rank's range
      // shuffle on top (never a single-partition window)
      time("quality_classifier_calib", scale)(
        force(graft.operators.QualityClassifier.calibration(docs)))
      // distribution-matched resample: two tiny histograms + ONE
      // DistributedRank range shuffle over the (bucket, pri, doc_id)
      // total order — per-bucket rank via offsets, so the curve must not
      // show an 8-reduce-task straggler at any scale
      time("dist_matched_sample", scale)(
        force(graft.operators.Mixture.distMatchedSample(docs)))
      // token-mass twin: the running-sum gate rides the distributed
      // prefix sum (range partition + offsets) — same flat shape expected
      time("dist_matched_token", scale)(
        force(graft.operators.Mixture.distMatchedTokenSample(docs)))
      // retrieval additions: BM25 is two stateless scan passes (stats
      // 1-row broadcast + scoring top-k) — the curve should be pure scan;
      // PMI is the bigram explode into a vocab²-bounded aggregate, so its
      // curve tracks token volume with a constant-size shuffle frame
      time("bm25_top_docs", scale)(
        graft.functions.TextAnalysis.bm25TopDocs(docs).count())
      time("collocations_pmi", scale)(
        graft.functions.TextAnalysis.collocationsPmi(docs).count())
      // positional-index phrase search: index build (explode + groupBy)
      // + posting-list-proportional query evaluation
      time("phrase_search", scale)(
        graft.functions.TextAnalysis.phraseSearch(docs).count())
      // k-core peeling: R rounds of two semi-joins against a shrinking
      // alive set over the df-capped (≈linear) edge list
      time("doc_kcore", scale)(
        graft.operators.Centrality.docKcore(docs).count())
      // round-9: conformal quantile rides the range-partitioned rank —
      // the curve must have no single-task sort step
      time("conformal_intervals", scale)(
        graft.operators.Experiment.conformalIntervals(docs).count())
      // round-9: PRF — BM25 select (two scan passes) + k-doc-bounded
      // feedback aggregate + corpus df; curve should track bm25_top_docs
      time("prf_expansion", scale)(
        graft.functions.TextAnalysis.prfExpansion(docs).count())
      // round-9 late: first-occurrence vocab curve + Zipf-tail profile
      time("vocab_growth", scale)(
        graft.functions.TextAnalysis.vocabGrowth(docs).count())
      // round-10 text additions: RAKE phrase islands (per-doc windows),
      // Good-Turing trigram count-of-counts, G² four-term cells,
      // readability regex folds — all scan-shaped
      // the generator vocabulary holds no English stopwords — four of its
      // frequent words stand in as the island delimiters (12.5% stop rate
      // ≈ mean island ~8, so the scoring stages carry real candidates)
      time("rake_keywords", scale)(
        graft.operators.Keywords.rakeKeywords(
          docs, Seq("data", "join", "key", "row")).count())
      time("good_turing", scale)(
        graft.functions.TextAnalysis.goodTuring(docs).count())
      // LPA rounds are keyed joins on the pair graph; greedy coverage is
      // k sequential anti-join rounds on the checkpointed trigram frame
      time("doc_communities", scale)(
        graft.operators.Centrality.docCommunities(docs).count())
      time("coverage_selection", scale)(
        graft.operators.Curation.coverageSelection(docs, k = 5).count())
      time("collocations_g2", scale)(
        graft.functions.TextAnalysis.collocationsG2(docs).count())
      time("readability", scale)(
        graft.functions.TextAnalysis.readability(docs).count())
      time("rare_token_share", scale)(
        graft.functions.TextAnalysis.rareTokenShare(docs).count())
      // round-8 driver-round-8 session: positional-span family + graph
      time("duplicate_spans", scale)(
        graft.operators.SpanDedup.duplicateSpans(docs).count())
      time("span_coverage", scale)(
        force(graft.operators.SpanDedup.spanCoverage(docs)))
      time("blocklist_hits", scale)(
        graft.operators.SpanDedup.blocklistHits(docs).count())
      time("span_mask_plan", scale)(
        force(graft.operators.SpanDedup.spanMaskPlan(docs)))
      time("link_prediction", scale)(
        graft.operators.Centrality.linkPrediction(docs).count())
      time("doc_hits", scale)(
        force(graft.operators.Centrality.docHits(docs)))
      time("textrank_keywords", scale)(
        graft.operators.Keywords.textrankKeywords(docs).count())
      time("langid_confusion", scale)(
        graft.functions.TextAnalysis.langidConfusion(docs).count())
      time("span_trim_plan", scale)(
        force(graft.operators.SpanDedup.spanTrimPlan(docs)))
      // round-10: the apply steps (corpus rewrite) and the composed
      // regeneration pipeline (trim-apply -> md5 dedup -> re-split ->
      // leak audit). mask-apply is map-only; trim-apply adds one doc_id
      // join over the plan; regen adds a digest groupBy + the hashed-
      // window distinct on the SURVIVOR corpus.
      time("span_mask_apply", scale)(
        force(graft.operators.SpanDedup.spanMaskApply(docs)))
      time("span_trim_apply", scale)(
        force(graft.operators.SpanDedup.spanTrimApply(docs)))
      time("curation_regen_splits", scale)(
        graft.operators.Curation.regenSplits(docs).count())
      // output-side composed pipeline: in-row HRW argmax (map-only), one
      // uniform shard shuffle, per-shard cumsum, bin-bounded explode
      time("training_batch_manifest", scale)(
        graft.operators.Pack.trainingBatchManifest(docs).count())
      // full loop: regen corpus -> pack the regenerated train split
      time("regen_train_manifest", scale)(
        graft.operators.Pack.trainingBatchManifest(
          graft.operators.Curation.regenCorpus(docs)
            .filter(col("split") === "train")
            .select(col("doc_id"), col("cleaned_text").as("text"))).count())
      // round-9 session: LM / tokenizer / corpus-stat additions.
      // kn/backoff models are vocab²-bounded window+join frames over the
      // bigram reduction; ngram_novelty is one min() window on hashed
      // shingles; unigram's DP is row-local over the DISTINCT-word frame;
      // pareto/cvm sweep value-domain grids; capture_recapture is two
      // hash-gated distinct reductions; weighted_jaccard reranks the
      // candidate frame the set query already bounds.
      time("kn_bigram_table", scale)(
        graft.functions.LanguageModel.knBigramTable(docs).count())
      time("kn_doc_nll", scale)(
        graft.functions.LanguageModel.knDocNll(docs).count())
      time("stupid_backoff_eval", scale)(
        graft.functions.LanguageModel.stupidBackoffCrossSplit(docs).count())
      time("ngram_novelty", scale)(
        graft.operators.Novelty.ngramNovelty(docs).count())
      time("unigram_segment", scale)(
        graft.functions.UnigramTokenizer.unigramSegment(docs).count())
      time("pareto_docs", scale)(
        graft.operators.Skyline.paretoDocs(docs).count())
      time("cvm_drift", scale)(
        graft.operators.Drift.cvmDrift(docs).count())
      time("capture_recapture_vocab", scale)(
        graft.operators.CorpusStats.captureRecaptureVocab(docs).count())
      time("source_boilerplate_tokens", scale)(
        graft.operators.CorpusStats.sourceBoilerplateTokens(docs).count())
      time("weighted_jaccard_rerank", scale)(
        graft.operators.WeightedJaccard.weightedJaccardRerank(docs).count())
      pairs.unpersist()
      docs.unpersist()

      val emb = DocGen.embeddings(spark, nEmb).cache()
      emb.count()
      time("ann_lsh", scale)(Similarity.lshBucketedTopK(emb).count())
      time("ann_ivf", scale)(Similarity.ivfTopK(emb).count())
      // incremental maintenance: corpus-only fit, arrivals appended by a
      // map-only assignment, arrival probes over the grown index — the
      // curve should track ann_ivf (one fewer fit input, same probe join)
      time("ann_ivf_append", scale)(
        Similarity.ivfAppendTopK(emb, splitId = 16L * scale).count())
      time("ann_ivfpq_append", scale)(
        Similarity.ivfPqAppendTopK(emb, splitId = 16L * scale).count())
      // cell count scales WITH the corpus (fit-free LSH cells) so cell
      // size — and with it pairs-per-cell — stays constant: the knob the
      // k-means variant cannot turn once nlist outgrows the bounded fit
      val planeBits = (math.log(16.0 * scale) / math.log(2)).ceil.toInt
      time("semantic_dedup_lsh", scale)(
        Similarity.semanticDedupLsh(emb, planeBits).count())
      time("embedding_quantize", scale)(
        Similarity.quantizeAudit(emb).count())
      time("embedding_clusters", scale)(
        Similarity.clusterAudit(emb).count())
      // round-8: per-dimension stats (posexplode fan-out, dim-bounded
      // shuffle). knn_graph is deliberately NOT here: the exact graph is
      // a bounded index-build primitive (quadratic by construction); its
      // scale path is ann_lsh/ann_ivf candidates, measured above.
      time("embedding_dim_stats", scale)(Similarity.dimStats(emb).count())
      // JL ±1 projection: stateless codegen scan, the curve is pure scan
      time("embedding_rp", scale)(
        graft.operators.FeatureEng.rpProject(emb).count())
      time("centroid_classifier_eval", scale)(
        graft.operators.Similarity.centroidClassifierEval(emb).count())
      time("mmr_selection", scale)(
        graft.operators.Similarity.mmrSelection(emb).count())
      time("hard_negatives", scale)(
        graft.operators.Similarity.hardNegatives(emb).count())
      // round-9 session: Gonzalez k-center — k map scans over an
      // incremental dmin frame; the curve must be ~k·scan
      time("kcenter_selection", scale)(
        graft.operators.Similarity.kCenterSelection(emb).count())
      emb.unpersist()
    }

    println("=== growth summary (curve time = min(t1,t2), or t1 where the 2nd run hits a result cache) ===")
    val byOp = results.groupBy(_._1)
    val ops = results.map(_._1).distinct
    println(f"${"op"}%-24s ${"1x"}%8s ${"10x"}%8s ${"100x"}%8s ${"10x/1x"}%8s ${"100x/10x"}%9s")
    for (op <- ops) {
      val ts = byOp(op).sortBy(_._2)
        .map(r => r._2 -> (if (firstRunOnly(op)) r._3 else math.min(r._3, r._4))).toMap
      def t(s: Int): Double = ts.getOrElse(s, Double.NaN)
      val g10 = t(10) / t(1)
      val g100 = t(100) / t(10)
      println(f"$op%-24s ${t(1)}%8.2f ${t(10)}%8.2f ${t(100)}%8.2f $g10%8.1f $g100%9.1f")
    }
    spark.stop()
  }
}
