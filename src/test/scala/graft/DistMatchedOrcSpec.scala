package graft

import graft.operators.{DistributedRank, Mixture, PlanCache, QualityClassifier}
import org.apache.spark.sql.functions._

/** Invariants of the round-12 session-3 additions: distribution-matched
  * resampling ([[Mixture.distMatchedSample]] — Hamilton quota exactness,
  * shortfall capping, reference-bucket exclusion, partition invariance),
  * the trained-gate reliability table ([[QualityClassifier.calibration]] —
  * bin partition, count conservation vs the confusion rollup, ordered σ̃
  * ranges), and the ORC round trip (value-identical to the source frame).
  * Bit-exactness vs DuckDB is the driver oracle's job; these pin the
  * algebra the oracle cannot see (capping vs availability, frame reuse).
  */
class DistMatchedOrcSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)

  test("distMatchedSample: Hamilton quotas sum to N and admission caps at availability") {
    val out = Mixture.distMatchedSample(docs).cache()
    try {
      val bucket = graft.functions.TextAnalysis.lengthBucket(
        graft.functions.TextAnalysis.wsTokenCount(col("text")))
      val pool = docs.filter(col("source") =!= "src0")
        .select(bucket.as("bucket"))
      val poolN = pool.count()
      val n = poolN * 400000L / 1000000L
      val avail = pool.groupBy("bucket").count().as[(Int, Long)]
        .collect().toMap

      // One quota per bucket; quotas sum to exactly N.
      val quotas = out.select("bucket", "quota").distinct()
        .as[(Int, Long)].collect().toMap
      val admitted = out.groupBy("bucket").count().as[(Int, Long)]
        .collect().toMap
      assert(quotas.values.sum <= n) // buckets with zero admissions drop out
      // Reconstruct full quota sum: admitted buckets carry their quota;
      // since every admitted bucket's quota is emitted and Σquota over ALL
      // buckets is N, the emitted ones can't exceed N.
      admitted.foreach { case (b, cnt) =>
        assert(cnt == math.min(quotas(b), avail(b)),
          s"bucket $b: admitted $cnt, quota ${quotas(b)}, avail ${avail(b)}")
      }
      // pick_rank is 1..admitted within each bucket (dense, no gaps).
      val rankOk = out.groupBy("bucket")
        .agg(min("pick_rank").as("mn"), max("pick_rank").as("mx"),
          count(lit(1)).as("c"))
        .filter(col("mn") =!= 1L || col("mx") =!= col("c")).count()
      assert(rankOk == 0L)
      // Buckets absent from the reference are excluded from the sample.
      val refBuckets = docs.filter(col("source") === "src0")
        .select(bucket.as("bucket")).distinct().as[Int].collect().toSet
      assert(admitted.keySet.subsetOf(refBuckets))
    } finally {
      out.unpersist(); DistributedRank.release(spark)
    }
  }

  test("distMatchedSample: partition invariance and quota-exceeds-availability shortfall") {
    val a = Mixture.distMatchedSample(docs).collect().toSeq
    DistributedRank.release(spark)
    val b = Mixture.distMatchedSample(docs.repartition(7)).collect().toSeq
    DistributedRank.release(spark)
    assert(a == b)

    // Synthetic shortfall: the reference is all long docs, the pool has
    // ONE long doc — its bucket's quota (= all of N) must cap at 1.
    val long = Seq.tabulate(40)(i => s"w$i").mkString(" ") // 40 toks -> bucket 64
    val short = "a b c" // bucket 16
    val rows =
      (1L to 5L).map(i => (i, "ref", long)) ++
        Seq((10L, "pool", long)) ++ (11L to 19L).map(i => (i, "pool", short))
    val df = rows.toDF("doc_id", "source", "text")
    val sample = Mixture.distMatchedSample(df, refSource = "ref",
      samplePpm = 1000000L).collect()
    DistributedRank.release(spark)
    // N = 10; the only reference bucket is 64; pool has one 64-bucket doc.
    assert(sample.length == 1)
    assert(sample.head.getAs[Long]("doc_id") == 10L)
    assert(sample.head.getAs[Int]("bucket") == 64)
    assert(sample.head.getAs[Long]("quota") == 10L)
    assert(sample.head.getAs[Long]("pick_rank") == 1L)
  }

  test("calibration: bins partition the corpus, counts reconcile with the confusion rollup") {
    val cal = QualityClassifier.calibration(docs).cache()
    try {
      val conf = QualityClassifier.scoreConfusion(docs)
        .agg(sum("n_docs"), sum("n_label_hi"), sum("n_pred_hi"),
          sum("n_agree")).as[(Long, Long, Long, Long)].head()
      val tot = cal.agg(sum("n_docs"), sum("n_label_hi"), sum("n_pred_hi"),
        sum("n_agree")).as[(Long, Long, Long, Long)].head()
      assert(tot == conf)
      val bins = cal.select("bin").as[Int].collect().sorted
      assert(bins.head >= 0 && bins.last < 10 && bins.distinct.length == bins.length)
      // Equal-population bins ordered by σ̃: ranges must not interleave.
      val ranges = cal.orderBy("bin")
        .select("min_yhat", "max_yhat").as[(Long, Long)].collect()
      ranges.foreach { case (mn, mx) => assert(mn <= mx) }
      ranges.sliding(2).foreach {
        case Array((_, mxPrev), (mnNext, _)) => assert(mxPrev <= mnNext)
        case _ =>
      }
    } finally {
      cal.unpersist(); DistributedRank.release(spark)
      PlanCache.releasePins(spark, QualityClassifier)
    }
  }

  test("withGlobalPrefixSum equals the single-window cumsum, including empty and 1-row frames") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 1000).selectExpr("id", "(id * 7) % 13 AS v")
    val got = DistributedRank.withGlobalPrefixSum(
      df, Seq(col("v"), col("id")), col("v"), "cs", numParts = 7)
      .orderBy("v", "id").select("id", "cs").as[(Long, Long)].collect().toSeq
    DistributedRank.release(spark)
    val want = df.withColumn("cs",
      sum(col("v")).over(Window.orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("v", "id").select("id", "cs").as[(Long, Long)].collect().toSeq
    assert(got == want)
    val empty = DistributedRank.withGlobalPrefixSum(
      df.filter(col("id") < 0), Seq(col("id")), col("v"), "cs")
    assert(empty.count() == 0)
    DistributedRank.release(spark)
    val one = DistributedRank.withGlobalPrefixSum(
      df.filter(col("id") === 5), Seq(col("id")), col("v"), "cs")
      .select("cs").as[Long].collect().toSeq
    DistributedRank.release(spark)
    assert(one == Seq((5L * 7) % 13))
  }

  test("distMatchedTokenSample: token quotas sum to Ntok, fill-until-reached overshoot bounded") {
    val out = Mixture.distMatchedTokenSample(docs).cache()
    try {
      val toks = graft.functions.TextAnalysis.wsTokenCount(col("text"))
      val bucket = graft.functions.TextAnalysis.lengthBucket(toks)
      val pool = docs.filter(col("source") =!= "src0")
        .select(bucket.as("bucket"), toks.cast("long").as("t"))
      val poolTok = pool.agg(sum("t")).as[Long].head()
      val nTok = poolTok * 400000L / 1000000L
      val quotas = out.select("bucket", "quota_tokens").distinct()
        .as[(Int, Long)].collect().toMap
      assert(quotas.values.sum <= nTok)
      // per-bucket admitted tokens land in [quota, quota + bucket_max)
      // unless the bucket's pool supply fell short
      val admitted = out.groupBy("bucket")
        .agg(sum("tokens").as("at"), max("tokens").as("mt"))
        .as[(Int, Long, Long)].collect()
      val avail = pool.groupBy("bucket").agg(sum("t")).as[(Int, Long)]
        .collect().toMap
      admitted.foreach { case (b, at, mt) =>
        val q = quotas(b)
        if (avail(b) >= q) assert(at >= q && at < q + mt,
          s"bucket $b admitted $at vs quota $q (max doc $mt)")
        else assert(at == avail(b), s"bucket $b shortfall: $at vs ${avail(b)}")
      }
      // per-bucket cum_tokens is the running sum of the admitted tokens
      val cumOk = out.groupBy("bucket")
        .agg(max("cum_tokens").as("mx"), sum("tokens").as("st"))
        .filter(col("mx") =!= col("st")).count()
      assert(cumOk == 0L)
    } finally {
      out.unpersist(); PlanCache.releasePerQuery(spark)
    }
  }

  test("classifierAuc: the trained gate ranks above chance and reconciles with the confusion totals") {
    val auc = graft.operators.ClassifierEval.classifierAuc(docs).head()
    try {
      val nAll = auc.getAs[Long]("n_all")
      val nPos = auc.getAs[Long]("n_pos")
      val aucMicros = auc.getAs[Long]("auc_micros")
      val gini = auc.getAs[Long]("gini_micros")
      val conf = QualityClassifier.scoreConfusion(docs)
        .agg(sum("n_docs"), sum("n_label_hi")).as[(Long, Long)].head()
      assert((nAll, nPos) == conf)
      // the distilled gate must rank its teacher above chance
      assert(aucMicros > 500000L && aucMicros <= 1000000L, s"auc $aucMicros")
      // Gini = 2·AUC − 1 exactly on the micros lattice (both floor the
      // same rational, n_pos·n_neg | u2 offsets differ by exactly 1e6·den)
      assert(gini == 2 * aucMicros - 1000000L ||
        math.abs(gini - (2 * aucMicros - 1000000L)) <= 1L)
    } finally PlanCache.releasePins(spark, QualityClassifier)
  }

  test("headAuc: one row per head, positives partition the corpus, micros in range") {
    val rows = graft.operators.DomainClassifier.headAuc(docs).collect()
    try {
      assert(rows.map(_.getAs[Int]("h")).toSeq ==
        (0 until graft.operators.DomainClassifier.K))
      val nAll = rows.map(_.getAs[Long]("n_all")).distinct
      assert(nAll.length == 1) // every head scores the whole corpus
      // each doc is positive for exactly ONE head
      assert(rows.map(_.getAs[Long]("n_pos")).sum == nAll.head)
      rows.foreach { r =>
        val auc = r.getAs[Long]("auc_micros")
        assert(auc >= 0L && auc <= 1000000L)
        val (p, n) = (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"))
        if (p == 0L || n == 0L) assert(auc == 0L) // degenerate contract
      }
    } finally PlanCache.releasePins(spark, graft.operators.DomainClassifier)
  }

  test("ORC round trip is value-identical to the source events frame") {
    val ev = Tables.events(spark, sf)
    val out = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_orc_rt_spec").getAbsolutePath
    val rt = graft.sources.Sources.eventsOrcRoundTrip(ev, out)
    assert(rt.schema.map(f => (f.name, f.dataType)) ==
      ev.schema.map(f => (f.name, f.dataType)))
    val key = ev.columns.map(col)
    assert(rt.orderBy(key: _*).collect().toSeq ==
      ev.orderBy(key: _*).collect().toSeq)
  }
}
