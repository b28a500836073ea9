package graft

/** Benchmark main — driver contract: one JSON line
  * `{"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query is forced by counting the OPTIMIZED PHYSICAL PLAN's rows
  * (`queryExecution.toRdd.count()`), not `DataFrame.count()`: a count()
  * aggregate lets Catalyst prune every output column and ELIMINATE
  * provably-cardinality-neutral joins (a left join whose right side is an
  * aggregate keyed on the join key), so report-shaped queries that end in
  * "base table LEFT JOIN per-key aggregates" would otherwise be timed
  * with their whole pipeline optimized away. toRdd keeps every output
  * column required — the measured cost is what writing the result
  * anywhere would pay. A one-query warmup first: JVM/codegen/
  * parquet-footer caching otherwise lands entirely on whichever query
  * happens to run first, making per-query numbers noise.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated query subset (local iteration only —
    // recorded artifacts always come from full runs)
    val queries = Harness.select(args.headOption)
    val spark = Harness.session(Harness.cpus)
    Harness.warmup(spark, sfDir)

    // Three passes, per-query MIN over SUCCESSFUL passes: this host shows
    // multi-second run-to-run noise (one observed run was +40% on every
    // query); min-of-3 reports the machine's capability, not its worst
    // co-tenant moment. A failed pass contributes NO time (a crash's
    // time-to-failure must never be selected as a fast run); a query that
    // failed in every pass reports -1 so the breakage is visible.
    def runOne(fn: Harness.Query): Option[Double] =
      Harness.run(spark) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.toOption
    def onePass(): Seq[(String, Option[Double])] =
      queries.map { case (name, fn) => name -> runOne(fn) }

    // Noise floor: three fixed sentinel queries (scan-bound, shuffle-bound,
    // sketch-bound) timed once right after warmup and once after the last
    // pass. `drift` = max over sentinels of slower/faster — a mechanical
    // separator for "the VM changed under us" vs "a plan regressed": real
    // regressions move specific queries while the sentinels hold; co-tenant
    // noise moves the sentinels too. Sentinel runs are warm by design (the
    // cold-start cost is the warmup's job, not the noise floor's).
    val sentinelNames = Seq("tpch_q1_pricing", "hourly_agg", "minhash_lsh_pairs")
    def sentinels(): Seq[(String, Double)] =
      sentinelNames.map(n => n -> runOne(SparkEntry.queries(n)).getOrElse(-1.0))
    // The generic warmup above scans tables but does not plan these queries,
    // so a single `pre` run would time first-plan compilation (observed 3.8x
    // vs warm) and drown the co-tenant signal drift exists to isolate. Run
    // the sentinels twice and keep the per-sentinel min. Drift is ONE-SIDED
    // (post slower than pre): C2 JIT keeps shaving time well past two runs,
    // so "post got faster" is residual warmup, not the VM changing under us
    // — only a mid-run slowdown marks co-tenant interference. (A noisy
    // START is already absorbed by min-of-3 on the measurements themselves;
    // pre/post ride the JSON for inspection either way.)
    val preRuns = Seq(sentinels(), sentinels())
    val pre = sentinelNames.map(n =>
      n -> preRuns.map(_.toMap.apply(n)).filter(_ > 0).minOption.getOrElse(-1.0))
    val passes = Seq(onePass(), onePass(), onePass())
    val post = sentinels()
    val drift = pre.zip(post).collect {
      case ((_, a), (_, b)) if a > 0 && b > 0 => b / a
    }.foldLeft(1.0)(math.max)
    // JSON must be locale-independent: the f-interpolator honors the JVM
    // default locale (comma decimal separators under de_DE/fr_FR would
    // yield unparseable JSON) — format via Locale.ROOT only.
    def num(v: Double, decimals: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f",
        java.lang.Double.valueOf(v))
    def sentJson(s: Seq[(String, Double)]) =
      s.map { case (k, v) => "\"" + k + "\":" + (if (v < 0) "-1" else num(v, 3)) }
        .mkString("{", ",", "}")

    val results = passes.head.map { case (name, _) =>
      val times = passes.flatMap(_.toMap.apply(name))
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    val total = results.map { case (_, v) => math.max(v, 0.0) }.sum
    // failed-query count rides the headline JSON: a broken query adds 0 s
    // to the total, which would otherwise read as a speedup in trend
    // tracking; failed > 0 marks the total as not comparable
    val failed = results.count { case (_, v) => v < 0 }
    def r3(v: Double): String = if (v < 0) "-1" else num(v, 3)

    // The harness that records this run keeps only the LAST ~2000 chars of
    // stdout; a per-query map over the full suite (376 queries, ~10 KB) was
    // overflowing that window, so the machine-readable line was never parsed
    // (BENCH_r01..r07 all carry "parsed": null). The headline line printed
    // LAST is therefore compact: total + failure count + a fixed
    // representative subset covering each operator family. The complete
    // per-query map goes to BENCH_DETAIL.json (and to stdout earlier, where
    // truncation is harmless).
    val headlineNames = Seq(
      "tpch_q1_pricing", "tpch_q10_returned", "hourly_agg", "hourly_agg_approx",
      "sessionize_stats", "q1_filter_paginate", "json_ingest_agg",
      "o14_last_write_wins", "customer_spend_quartiles", "retention_cohorts",
      "dedup_exact", "minhash_lsh_pairs", "simhash_pairs", "dedup_clusters",
      "ngram_jaccard_pairs", "winnow_fingerprints", "split_leakage",
      "source_mixture_sample", "ann_bruteforce", "ann_lsh", "ann_ivf", "ann_pq",
      "knn_graph", "token_topk_cms", "tfidf_top_terms", "token_counts_bpe",
      "doc_pagerank", "table_fingerprints", "multimodal_bmp_roundtrip",
      "curation_funnel", "curation_regen_splits", "training_batch_manifest",
      "suffix_lrs", "wordpiece_tokens")
    val rmap = results.toMap
    val headQs = headlineNames.filter(rmap.contains)
      .map(k => "\"" + k + "\":" + r3(rmap(k))).mkString("{", ",", "}")
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val nfJson = s"""{"pre":${sentJson(pre)},"post":${sentJson(post)},"drift":${num(drift, 2)}}"""
    val fullLine = s"""{"metric":"total","value":${num(total, 2)},"unit":"sec","failed":$failed,"query_count":${results.size},"queries":$fullQs,"sf":"$sfDir","passes":3,"agg":"min","noise_floor":$nfJson}"""
    try {
      val p = java.nio.file.Paths.get("BENCH_DETAIL.json")
      java.nio.file.Files.write(p, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => } // cwd not writable: detail rides stdout only
    println(fullLine)
    println(s"""{"metric":"total","value":${num(total, 2)},"unit":"sec","failed":$failed,"query_count":${results.size},"detail":"BENCH_DETAIL.json","queries":$headQs,"sf":"$sfDir","passes":3,"agg":"min","noise_floor":$nfJson}""")
    spark.stop()
  }
}
