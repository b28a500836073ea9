package graft

import graft.operators.{Dedup, Similarity}
import graft.queries.Analytics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan audit for the properties the 100 TB design depends on:
  * filters pushed to the parquet scan, scans pruned to referenced columns,
  * fixed dims broadcast, and no cartesian product anywhere outside the two
  * deliberately bounded verification primitives. These are the claims
  * SCALING.md makes — asserted against the FINAL adaptive plans (each
  * query is executed first, so AQE's runtime re-planning is what gets
  * audited, not the initial plan it may replace).
  */
class PlanAuditSpec extends SparkTestBase {

  /** Execute (so AQE finalizes), then return the final physical plan.
    * Must run THIS DataFrame's own QueryExecution: `df.count()` would build
    * and execute a derived aggregate plan, leaving df's own
    * AdaptiveSparkPlanExec un-executed and its `executedPlan` stuck at the
    * initial (pre-runtime-replanning) plan — runtime effects like the AQE
    * skew split would be invisible.
    */
  private def finalPlan(df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    qe.toRdd.count()
    qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def executed(df: DataFrame): String = finalPlan(df).toString

  /** Leaves of the final plan, descending into adaptive query stages. */
  private def deepLeaves(p: SparkPlan): Seq[SparkPlan] =
    p.collectLeaves().flatMap {
      case a: AdaptiveSparkPlanExec => deepLeaves(a.executedPlan)
      case s: QueryStageExec => deepLeaves(s.plan)
      case l => Seq(l)
    }

  private def leaves(df: DataFrame): String =
    deepLeaves(finalPlan(df)).map(_.toString).mkString("\n")

  /** Every ShuffleExchange in the final plan, descending into stages. */
  private def allExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p.collect {
      case a: AdaptiveSparkPlanExec => allExchanges(a.executedPlan)
      case s: QueryStageExec => allExchanges(s.plan)
      case e: ShuffleExchangeExec => Seq(e)
    }.flatten

  test("ANN query-set filter reaches the embeddings parquet scan") {
    val plan = leaves(Similarity.bruteForceTopK(Tables.embeddings(spark, sf)))
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(vec_id,8)"),
      s"query-side vec_id filter must be pushed to the scan:\n$plan")
  }

  test("column pruning: token counting reads only doc_id and text") {
    val q = Tables.documents(spark, sf).selectExpr(
      "doc_id", "size(split(text, ' ')) AS ws_tokens")
    val scan = leaves(q)
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to the two referenced columns:\n$scan")
  }

  test("TPC-H Q3 shape: date/segment filters pushed on all three scans") {
    val plan = leaves(Analytics.shippingPriority(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf), Tables.customer(spark, sf)))
    assert(plan.contains("GreaterThan(l_shipdate"), plan)
    assert(plan.contains("LessThan(o_orderdate"), plan)
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
  }

  test("snowflake joins broadcast the fixed dims, never cartesian") {
    val plan = executed(Analytics.regionalVolume(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.nation(spark, sf), Tables.region(spark, sf)))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"),
      s"snowflake must stay on equi-joins:\n$plan")
  }

  test("cross-doc ngram shuffles carry hashed longs, never shingle strings") {
    val df = graft.operators.Dedup.crossDocNgramOverlap(Tables.documents(spark, sf))
    val plan = finalPlan(df)
    val stringExchange = allExchanges(plan).find(_.output.exists(a =>
      a.dataType == org.apache.spark.sql.types.StringType))
    assert(stringExchange.isEmpty,
      s"df/join shuffles must carry the 8-byte shingle hash, not strings:\n" +
        stringExchange.mkString)
  }

  test("funnel persist path reads the cache, not three corpus scans") {
    val df = graft.operators.Curation.funnel(
      Tables.documents(spark, sf), Seq("the", "a", "of", "and"),
      persistThresholdBytes = 0L)
    val (cacheScans, fileScans) =
      try {
        val ls = deepLeaves(finalPlan(df))
        (ls.count(_.isInstanceOf[
            org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
          ls.count(_.isInstanceOf[
            org.apache.spark.sql.execution.FileSourceScanExec]))
      } finally graft.operators.PlanCache // never leak the cache
          .releasePins(spark, graft.operators.Curation)
    assert(cacheScans >= 2,
      s"stage branches must read the persisted frame: $cacheScans cache scans")
    // the only parquet scan allowed is the one materializing the cache
    assert(fileScans <= 1,
      s"persisted funnel must not rescan the corpus: $fileScans file scans")
  }

  test("tfidf top-k plans as WindowGroupLimit (rank pushdown, bounded sort)") {
    val df = graft.functions.TextAnalysis.tfidfTopTerms(Tables.documents(spark, sf))
    val plan = executed(df)
    // Spark's WindowGroupLimit keeps only k rows per doc through the sort,
    // so the ranked set is never materialized — the property that makes
    // per-group top-k safe at corpus scale.
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in the tfidf plan:\n$plan")
  }

  test("LSH candidate generation joins on bucket keys without carrying vectors") {
    val df = Similarity.lshBucketedTopK(Tables.embeddings(spark, sf))
    val plan = finalPlan(df)
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
    // the collision-join + dedup stage must not shuffle embedding arrays:
    // candidate exchanges carry only ids/buckets (the vectors re-attach
    // after dedup via the vec_id join)
    val badExchange = allExchanges(plan).find(_.output.exists(a =>
      a.name == "embedding" || a.name == "qe"))
    assert(badExchange.isEmpty,
      s"candidate shuffle must not carry vector arrays:\n${badExchange.mkString}")
  }

  test("banded range join plans as an equi-join, never a nested-loop product") {
    val plan = executed(operators.RangeJoin.errorsNearPurchases(
      Tables.events(spark, sf)))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"band predicate must ride an equi-join on (user, bin):\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("bloom runtime filter: join-equivalent, filter in codegen, no UDF node") {
    val events = Tables.events(spark, sf)
    val dim = Tables.customer(spark, sf)
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING")
      .select(org.apache.spark.sql.functions.col("c_custkey").as("user_id"))
    val plain = events.join(dim, "user_id")
    val pruned = operators.RuntimeFilter
      .bloomPrune(events, org.apache.spark.sql.functions.col("user_id"),
        dim, "user_id", expectedKeys = 10000L)
      .join(dim, "user_id")
    // Bloom has false positives only — the subsequent join removes them,
    // so the end result is exactly the plain join
    assert(pruned.count() == plain.count())
    val plan = executed(pruned)
    assert(plan.contains("bloom_might_contain_long"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"probe must be a native expression, not a UDF:\n$plan")
  }

  test("windowed aggregation keeps partial aggregation (map-side combine)") {
    val plan = executed(operators.HourlyAggregation(Tables.events(spark, sf)))
    // two-phase hash aggregate: partial_ functions before the exchange
    assert(plan.contains("partial_"), s"expected partial aggregation:\n$plan")
  }

  test("IVF-PQ candidate join broadcasts queries and ships codes, not vectors") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = finalPlan(Similarity.ivfPqTopK(Tables.embeddings(spark, sf)))
    def allBhj(p: org.apache.spark.sql.execution.SparkPlan): Seq[BroadcastHashJoinExec] =
      p.collect {
        case a: AdaptiveSparkPlanExec => allBhj(a.executedPlan)
        case s: QueryStageExec => allBhj(s.plan)
        case j: BroadcastHashJoinExec => Seq(j)
      }.flatten
    val cellJoins = allBhj(plan).filter(_.leftKeys.exists(_.toString.contains("cell")))
    assert(cellJoins.nonEmpty, s"expected a broadcast join on cell:\n$plan")
    // the ADC scan side must carry the 16-byte codes, never the raw
    // 64-float embedding — that reduction IS the operator's scale claim
    cellJoins.foreach { j =>
      val streamed = (j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case _ => j.left
      }).output.map(_.name)
      assert(streamed.contains("codes"), s"codes missing from scan side: $streamed")
      assert(!streamed.contains("embedding"),
        s"raw embeddings on the ADC scan side defeats PQ compression: $streamed")
    }
  }

  test("AQE splits a skewed sort-merge join; salting and AQE agree on results") {
    // SCALING.md's join-skew story has two layers: Skew.saltedJoin (manual,
    // works on any join) and AQE's runtime skew split (automatic, for
    // shuffled joins). This asserts the second actually fires: a 95%-hot
    // key through a sort-merge join, with the skew thresholds scaled down
    // to test-data sizes, must come back with isSkewJoin=true in the FINAL
    // adaptive plan — and both mitigations must agree with the plain join.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // detection: size > max(threshold, factor * median); test partitions
      // are KB-scale, so scale both knobs down from their MB-scale defaults
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ

      // ~190k rows on one key, the rest unique: one reduce partition gets
      // ~95% of the left side
      val left = spark.range(0, 200000).select(
        when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 64).select(col("id").as("k"), (col("id") * 10).as("w"))

      val joined = left.join(right, "k")
      val agg = joined.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      val plan = finalPlan(joined)
      def allSmj(p: SparkPlan): Seq[org.apache.spark.sql.execution.joins.SortMergeJoinExec] =
        p.collect {
          case a: AdaptiveSparkPlanExec => allSmj(a.executedPlan)
          case s: QueryStageExec => allSmj(s.plan)
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => Seq(j)
        }.flatten
      val smjs = allSmj(plan)
      assert(smjs.nonEmpty, s"expected a sort-merge join:\n$plan")
      assert(smjs.exists(_.isSkewJoin),
        s"AQE did not mark the join skewed:\n$plan")

      // all three strategies agree: plain SMJ (AQE-split), salted join
      val aqe = agg.orderBy("k").collect()
      val salted = graft.operators.Skew.saltedJoin(left, right, Seq("k"), salts = 8)
        .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .orderBy("k").collect()
      assert(aqe.sameElements(salted),
        s"salted join disagrees with AQE skew join")
      // sanity: the hot key kept every one of its rows through the split
      assert(aqe.find(_.getLong(0) == 7L).get.getLong(1) == 190000L)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("relational HLL is one scan, an aggregation cascade, and no join") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf).select(col("event_type"), col("user_id"))
    val plan = executed(operators.Hll.approxDistinctUsersWithCount(
      ev, Seq("event_type"), "user_id"))
    // the fused design: sketch + exact + row count from ONE input pass —
    // a join or a second events scan means the fusion regressed
    assert(!plan.contains("Join"), s"HLL pipeline must not join:\n$plan")
    assert(plan.contains("partial_"), s"expected map-side combine:\n$plan")
    val scans = deepLeaves(finalPlan(operators.Hll.approxDistinctUsersWithCount(
      ev, Seq("event_type"), "user_id")))
      .count(_.toString.contains("events.parquet"))
    assert(scans == 1, s"expected exactly one events scan, got $scans")
  }

  test("Q4 EXISTS plans as a left-semi join with the date range pushed") {
    val plan = executed(Analytics.lateShipmentPriority(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)))
    assert(plan.contains("LeftSemi"),
      s"EXISTS must lower to a semi join (probe stops at first match):\n$plan")
    val scan = leaves(Analytics.lateShipmentPriority(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)))
    assert(scan.contains("GreaterThanOrEqual(o_orderdate"),
      s"quarter filter must prune the orders scan:\n$scan")
  }

  test("Q6 shape: predicates pushed to the scan, only the needed columns read") {
    // read the scan's metadata MAP, not the rendered node string — Spark
    // truncates the PushedFilters rendering at maxMetadataStringLength
    // (the round-5 red-spec lesson)
    val scans = deepLeaves(finalPlan(
      Analytics.forecastRevenueDelta(Tables.lineitem(spark, sf)))).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a parquet file scan")
    val pushed = scans.map(_.metadata("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"the ship-year range must reach PushedFilters: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(l_discount") &&
      pushed.contains("LessThan(l_quantity"),
      s"discount band and quantity bound must push too: $pushed")
    val schema = scans.map(_.metadata("ReadSchema")).mkString
    assert(schema.contains("struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp"),
      s"the scan must read exactly the 4 referenced columns: $schema")
  }

  test("robust stats and Q12 read pruned scans (2-column projection, pushed dates)") {
    val madScans = deepLeaves(finalPlan(
      Analytics.medianMadOutliers(Tables.orders(spark, sf)))).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(madScans.nonEmpty && madScans.forall(_.metadata("ReadSchema")
      .contains("struct<o_totalprice:double,o_orderpriority:string>")),
      s"every median/MAD pass must read only the 2 referenced columns:\n" +
        madScans.map(_.metadata("ReadSchema")).mkString("\n"))
    val mixScans = deepLeaves(finalPlan(Analytics.priorityMixByFlag(
      Tables.lineitem(spark, sf), Tables.orders(spark, sf)))).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata("Location").contains("lineitem") => f
    }
    assert(mixScans.nonEmpty && mixScans.forall(_.metadata("PushedFilters")
      .contains("GreaterThanOrEqual(l_shipdate")),
      "the fact side must be pruned by the pushed ship-year before the join")
  }

  test("doc_pagerank: hash-only shuffles, no product, one corpus scan for the graph") {
    val df = graft.operators.Centrality.docPagerank(Tables.documents(spark, sf))
    val plan = finalPlan(df)
    assert(!plan.toString.contains("CartesianProduct") &&
      !plan.toString.contains("NestedLoop"),
      s"pair generation must stay on the shingle-hash equi-join:\n$plan")
    val stringExchange = allExchanges(plan).find(_.output.exists(a =>
      a.dataType == org.apache.spark.sql.types.StringType))
    assert(stringExchange.isEmpty,
      s"graph shuffles must carry hashed longs, never shingle strings:\n" +
        stringExchange.mkString)
  }

  test("dq_report: a table's whole constraint suite costs one scan") {
    val df = graft.operators.DataQuality.report(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf),
      Tables.customer(spark, sf), Tables.events(spark, sf),
      Tables.documents(spark, sf))
    val leavesAll = deepLeaves(finalPlan(df)).map(_.toString)
    // events has 3 constraints (incl. a distinct counter) -> still 1 scan;
    // orders/lineitem get one extra scan each from the FK check, no more.
    assert(leavesAll.count(_.contains("events.parquet")) == 1,
      "3 event constraints must fold into a single scan")
    assert(leavesAll.count(_.contains("documents.parquet")) == 1)
    assert(leavesAll.count(_.contains("orders.parquet")) == 2)
    assert(leavesAll.count(_.contains("lineitem.parquet")) == 2)
  }

  test("Q21 shape stays on equi-shuffles: no nested-loop, no self-join explosion") {
    val df = Analytics.soleLateSupplier(
      Tables.lineitem(spark, sf), Tables.supplier(spark, sf))
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"decorrelated Q21 must not plan a product:\n$plan")
    val scans = deepLeaves(finalPlan(df)).count(_.toString.contains("lineitem.parquet"))
    assert(scans == 1,
      s"agg+window form must scan lineitem ONCE (vs 3 in the literal EXISTS), got $scans")
    // the orderkey repartition must serve BOTH the (ok, sk) aggregate and
    // the window: repartition + final per-supplier agg + top-k sort = 3
    val exchanges = allExchanges(finalPlan(df)).size
    assert(exchanges <= 3,
      s"one exchange must feed aggregate AND window, got $exchanges:\n${executed(df)}")
  }

  test("winnowing selection joins on (doc, hash) equi-keys, never a product") {
    val df = graft.functions.TextAnalysis.winnowFingerprints(
      Tables.documents(spark, sf))
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"rightmost-min selection must be an equi-join with a position residual:\n$plan")
    // the position band rides as a residual condition on the hash equi-join
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("triangle join stays on oriented-edge equi-keys; edge list built once") {
    val df = graft.operators.Centrality.docTriangles(Tables.documents(spark, sf))
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"ordered-orientation scheme must never plan a product:\n$plan")
    // localCheckpoint materializes the oriented edges: the corpus is not
    // re-scanned for each of the 3 triangle sides + 2 rollups
    val scans = deepLeaves(finalPlan(df)).count(_.toString.contains("documents.parquet"))
    assert(scans == 1,
      s"edge list is checkpointed once; only the doc_id spine rescans, got $scans")
  }

  test("TPC-H Q9/Q11/Q18 shapes: pruned scans and no product joins") {
    val q9 = Analytics.productProfit(
      Tables.lineitem(spark, sf), Tables.part(spark, sf),
      Tables.supplier(spark, sf), Tables.nation(spark, sf),
      Tables.orders(spark, sf))
    assert(!executed(q9).contains("CartesianProduct") &&
      !executed(q9).contains("NestedLoop"))
    // part scan reads only the join key + retailprice and pushes the name
    // filter; Contains pushes as a parquet string predicate
    assert(leaves(q9).contains("StartsWith") || leaves(q9).contains("p_name"),
      s"name-token filter must reach the part scan:\n${leaves(q9)}")
    val q11 = Analytics.importantPartValues(
      Tables.lineitem(spark, sf), Tables.supplier(spark, sf),
      Tables.nation(spark, sf))
    // the 1-row total joins back via broadcast, not a shuffle
    assert(executed(q11).contains("BroadcastNestedLoopJoin") ||
      executed(q11).contains("BroadcastExchange"),
      "the scalar total must broadcast")
    val q18 = Analytics.largeVolumeCustomers(
      Tables.customer(spark, sf), Tables.orders(spark, sf),
      Tables.lineitem(spark, sf))
    assert(executed(q18).contains("TakeOrderedAndProject"),
      "top-k must plan as TakeOrderedAndProject, not a global sort")
  }

  test("snapshotDiff: one pushed-filter scan, no join (indicator formulation)") {
    val q = graft.operators.Evolution.snapshotDiff(Tables.orders(spark, sf),
      "1999-01-01 00:00:00", "2000-01-01 00:00:00")
    val scans = deepLeaves(finalPlan(q))
    assert(scans.length == 1, s"both snapshots must come from ONE scan:\n$scans")
    assert(scans.head.toString.contains("LessThan(o_orderdate"),
      s"t2 bound must push to the scan:\n${scans.head}")
    assert(!executed(q).contains("Join"), "diff must not join snapshots")
  }

  test("scd2History: all exchanges hash on the entity key, none single-partition") {
    val q = graft.operators.Evolution.scd2History(Tables.orders(spark, sf))
    val ex = allExchanges(finalPlan(q)).map(_.outputPartitioning.toString)
    // rangepartitioning comes from the final presentation ORDER BY only
    val hashEx = ex.filterNot(_.startsWith("range"))
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("o_custkey")),
      s"every computational shuffle must key on o_custkey:\n$ex")
    assert(!ex.exists(_.contains("SinglePartition")), ex.toString)
  }

  test("entityMatches: blocking passes are equi-joins, never a product") {
    val q = graft.operators.EntityResolution.entityMatches(
      Tables.customer(spark, sf))
    val p = executed(q)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"blocked linkage must stay on equi-joins:\n$p")
  }

  test("kAnonymize: per-level group counts broadcast back onto the records") {
    val p = executed(graft.operators.Privacy.kAnonymize(
      Tables.customer(spark, sf)))
    assert(p.contains("BroadcastHashJoin"),
      s"domain-bounded count frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cusumChangepoints: baseline stats broadcast; counts keep partial agg") {
    val q = graft.operators.Changepoint.cusumChangepoints(
      Tables.events(spark, sf))
    val p = executed(q)
    assert(p.contains("BroadcastHashJoin"),
      s"per-key baseline stats must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count") ||
      p.contains("HashAggregate"),
      s"hourly counts must combine map-side:\n$p")
  }

  test("ksDrift: corpus-side aggregates stay hash joins; only bounded frames broadcast") {
    val q = graft.operators.Drift.ksDrift(Tables.documents(spark, sf))
    val p = executed(q)
    // the two crossJoins carry 1-row / |sources|-row broadcast frames;
    // the counts join onto the grid must be an equi-join
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"),
      s"bounded frames must ride broadcasts, not shuffled products:\n$p")
  }

  test("targetEncode: category/global frames broadcast; fact side never shuffles for the join") {
    val p = executed(graft.operators.FeatureEng.targetEncode(
      Tables.orders(spark, sf)))
    assert(p.contains("BroadcastHashJoin"),
      s"the |categories|-row stats frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kmvDistinct: the sketch aggregate keeps map-side partials") {
    val p = executed(graft.operators.Kmv.kmvDistinct(
      Tables.events(spark, sf)))
    assert(p.contains("ObjectHashAggregate"),
      s"TypedImperativeAggregate must run as partial+final object agg:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bootstrapCi: one scan, native mix64 counters, no join at all") {
    val q = graft.operators.FeatureEng.bootstrapCi(Tables.orders(spark, sf))
    val p = executed(q)
    assert(p.contains("mix64("),
      s"replicate weights must come from the native expression:\n$p")
    assert(!p.contains("Join"), s"the bootstrap is one aggregate:\n$p")
  }

  test("hilbert_locality: native expression in a single-scan aggregate") {
    val ev = Tables.events(spark, sf).select(
      (org.apache.spark.sql.functions.col("user_id") % 1024).as("x"),
      (org.apache.spark.sql.functions.col("event_id") % 1024).as("y"))
    import org.apache.spark.sql.functions._
    val q = ev.select(col("x"), col("y"),
        graft.operators.Layout.hilbertKey(col("x"), col("y"), 10).as("hkey"))
      .groupBy(shiftright(col("hkey"), 12).as("hbucket"))
      .agg(count(lit(1)).as("n"))
    val p = executed(q)
    assert(p.contains("hilbert_xy2d"),
      s"the Hilbert key must be the codegen'd native expression:\n$p")
    assert(allExchanges(finalPlan(q)).size <= 1,
      s"bucket audit is scan + one agg exchange:\n$p")
  }

  test("phraseSearch: posting joins stay equi; no product") {
    val p = executed(graft.functions.TextAnalysis.phraseSearch(
      Tables.documents(spark, sf)))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"index evaluation must stay on equi-joins:\n$p")
  }

  test("olsTrend + tCloseness: bounded frames broadcast, no products") {
    val p1 = executed(graft.operators.TableStats.olsTrend(
      Tables.orders(spark, sf), Tables.customer(spark, sf)))
    assert(!p1.contains("CartesianProduct"), p1)
    val p2 = executed(graft.operators.Privacy.tCloseness(
      Tables.customer(spark, sf)))
    assert(!p2.contains("CartesianProduct"),
      s"the groups x bands grid must ride a broadcast:\n$p2")
  }

  test("columnStats: no multi-distinct Expand anywhere in the plan") {
    val q = graft.operators.TableStats.columnStats(
      Tables.orders(spark, sf), Tables.events(spark, sf))
    val p = executed(q)
    assert(!p.contains("Expand"),
      s"the profile must not fan rows through a multi-distinct Expand:\n$p")
  }

  test("columnStats: at most two parquet scans per table, whatever its width") {
    val q = graft.operators.TableStats.columnStats(
      Tables.orders(spark, sf), Tables.events(spark, sf))
    // counters pass + stacked distinct pass; a distinct branch per column
    // would scan the table once per column on top of the counters pass
    val scans = deepLeaves(finalPlan(q)).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata("Location")
    }
    for (t <- Seq("orders", "events")) {
      val n = scans.count(_.contains(s"$t.parquet"))
      assert(n >= 1 && n <= 2,
        s"$t is scanned $n times, expected at most 2:\n${scans.mkString("\n")}")
    }
  }

  test("assocRules: marginals broadcast; single generator per basket row") {
    val q = graft.operators.Association.assocRules(Tables.lineitem(spark, sf))
    val p = executed(q)
    assert(p.contains("BroadcastHashJoin"),
      s"part marginals must broadcast onto the pair frame:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the pair pipeline must use the i<j in-row generator, not the
    // explode x explode + filter spelling (k^2 generator rows). The
    // consumer plan reads the session-cached pair checkpoint, so the
    // generator is pinned on the BUILD plan the cache materializes.
    val build = executed(graft.operators.Association.buildPairSupport(
      Tables.lineitem(spark, sf)
        .select(org.apache.spark.sql.functions.col("l_orderkey").as("ok"),
          org.apache.spark.sql.functions.col("l_partkey").as("pk"))
        .distinct()))
    assert(build.contains("flatten(transform("),
      s"pairs must come from the ordered i<j array generator:\n$build")
  }

  test("markovNextEvent + itemrecHitrate: model joins broadcast, no product") {
    val p1 = executed(graft.operators.Eval.markovNextEvent(
      Tables.events(spark, sf)))
    assert(p1.contains("BroadcastHashJoin") && !p1.contains("CartesianProduct"),
      s"the |states|^2 model must broadcast onto test transitions:\n$p1")
    val p2 = executed(graft.operators.Association.itemrecHitrate(
      Tables.lineitem(spark, sf)))
    assert(!p2.contains("CartesianProduct"),
      s"the hit probe must stay on equi-joins:\n$p2")
  }

  test("conformalIntervals: quantile sort rides the range partitioning") {
    val q = graft.operators.Experiment.conformalIntervals(
      Tables.documents(spark, sf))
    try {
      val plan = finalPlan(q)
      // 1-row scalar-aggregate reductions (fit/qhat) legitimately pass
      // through SinglePartition; the scale hazard is a SORT over a
      // single partition — assert none exists and the range-partitioned
      // rank path is present.
      def allSorts(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SortExec] =
        p.collect {
          case a: AdaptiveSparkPlanExec => allSorts(a.executedPlan)
          case s: QueryStageExec => allSorts(s.plan)
          case s: org.apache.spark.sql.execution.SortExec => Seq(s)
        }.flatten
      // (a global SortExec over rangepartitioning is the distributed
      // sort — only a SinglePartition child means one task does it all)
      val singleTaskSorts = allSorts(plan).filter(
        _.child.outputPartitioning.toString.contains("SinglePartition"))
      assert(singleTaskSorts.isEmpty,
        s"the order statistic must not sort in one task:\n$singleTaskSorts")
      val ex = allExchanges(plan).map(_.outputPartitioning.toString)
      assert(ex.exists(_.contains("rangepartitioning")),
        s"the ranked quantile must range-partition:\n$ex")
    } finally graft.operators.DistributedRank.release(spark)
  }

  test("prfExpansion: feedback set broadcasts; corpus joins stay equi") {
    val p = executed(graft.functions.TextAnalysis.prfExpansion(
      Tables.documents(spark, sf)))
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      s"the k-doc feedback set must broadcast onto the corpus:\n$p")
  }

  test("mannWhitney + trimmedMeans: ranks range-partition, no 1-task sort") {
    def noSingleTaskSort(df: DataFrame): Unit = {
      val plan = finalPlan(df)
      def allSorts(p: SparkPlan)
          : Seq[org.apache.spark.sql.execution.SortExec] =
        p.collect {
          case a: AdaptiveSparkPlanExec => allSorts(a.executedPlan)
          case s: QueryStageExec => allSorts(s.plan)
          case s: org.apache.spark.sql.execution.SortExec => Seq(s)
        }.flatten
      val bad = allSorts(plan).filter(
        _.child.outputPartitioning.toString.contains("SinglePartition"))
      assert(bad.isEmpty, s"single-task sort in the rank path:\n$bad")
      // the range exchange may sit INSIDE the persisted ranged frame's
      // cached plan (InMemoryTableScan) rather than in this query's own
      // exchange list — accept either evidence of the ranged rank path
      val ex = allExchanges(plan).map(_.outputPartitioning.toString)
      assert(ex.exists(_.contains("rangepartitioning")) ||
        plan.toString.contains("InMemoryTableScan"),
        s"expected the range-partitioned rank frame:\n$ex")
    }
    try {
      noSingleTaskSort(graft.operators.Experiment.mannWhitney(
        Tables.events(spark, sf)))
      noSingleTaskSort(graft.operators.RobustStats.trimmedMeans(
        Tables.orders(spark, sf), Tables.customer(spark, sf)))
    } finally graft.operators.DistributedRank.release(spark)
  }

  test("shapleyAttribution: lattice joins broadcast, fact side scans once") {
    val p = executed(graft.operators.Shapley.shapleyAttribution(
      Tables.events(spark, sf)))
    assert(p.contains("BroadcastHashJoin"),
      s"the 2^|C| lattice frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product in the subset joins:\n$p")
  }

  test("kmSurvival + rakeKeywords: per-key partials survive (map-side combine)") {
    // the per-customer (min,max) fold and the per-word deg/freq fold
    // must keep partial aggregation — a missing partial means the raw
    // corpus shuffles on the group key
    val km = executed(graft.operators.Survival.kmSurvival(
      Tables.orders(spark, sf)))
    assert(km.contains("partial_min") || km.contains("partial"),
      s"per-customer reduction must combine map-side:\n$km")
    val rk = executed(graft.operators.Keywords.rakeKeywords(
      Tables.documents(spark, sf), Seq("the", "a", "of", "and")))
    assert(!rk.contains("CartesianProduct"), rk)
    assert(rk.contains("BroadcastHashJoin"),
      s"the vocabulary-bounded word-score frame must broadcast:\n$rk")
  }

  test("readability + goodTuring + isotonic: scan-shaped, no products") {
    val rd = executed(graft.functions.TextAnalysis.readability(
      Tables.documents(spark, sf)))
    assert(!rd.contains("Exchange hashpartitioning") ||
      allExchanges(finalPlan(graft.functions.TextAnalysis.readability(
        Tables.documents(spark, sf)))).size <= 2,
      s"readability is one fold to |sources| rows:\n$rd")
    val gt = executed(graft.functions.TextAnalysis.goodTuring(
      Tables.documents(spark, sf)))
    assert(!gt.contains("CartesianProduct"), gt)
    val iso = executed(graft.operators.FeatureEng.isotonicCalibration(
      Tables.events(spark, sf)))
    assert(!iso.contains("CartesianProduct"), iso)
    assert(iso.contains("BroadcastHashJoin") ||
      iso.contains("BroadcastNestedLoopJoin"),
      s"the 24-row minimax frames must broadcast:\n$iso")
  }

  test("span-dedup family: pruned scans, no products, codegen'd mask draw") {
    // duplicate_spans / span_coverage: only (doc_id, text) leave the scan
    val ds = graft.operators.SpanDedup.duplicateSpans(
      Tables.documents(spark, sf))
    val dsLeaves = leaves(ds)
    assert(dsLeaves.contains("doc_id") && dsLeaves.contains("text") &&
      !dsLeaves.contains("n_chars") && !dsLeaves.contains("lang"),
      s"span extraction must prune to (doc_id, text):\n$dsLeaves")
    assert(!executed(ds).contains("CartesianProduct"), executed(ds))
    val sc = executed(graft.operators.SpanDedup.spanCoverage(
      Tables.documents(spark, sf)))
    assert(!sc.contains("CartesianProduct") && !sc.contains("NestedLoop"),
      s"coverage join must stay an equi-join on the span key:\n$sc")
    // span_mask_plan: pure position arithmetic — the mix64 draw stays in
    // codegen (no eval-python / no UDF object node), joins hash on doc_id
    val smp = graft.operators.SpanDedup.spanMaskPlan(
      Tables.documents(spark, sf))
    val smpPlan = finalPlan(smp)
    val smpStr = smpPlan.toString
    assert(!smpStr.contains("BatchEvalPython") && !smpStr.contains("ScalaUDF"),
      s"the mask draw must be the native mix64 expression:\n$smpStr")
    assert(!smpStr.contains("CartesianProduct"), smpStr)
  }

  test("span apply + regen: mask apply is shuffle-free, composed plan stays bounded") {
    // spanMaskApply: the gate is a pure (doc_id, pos) function, so the
    // rewrite must be ONE map-only scan — the only exchange allowed is
    // the final presentation sort's range exchange, and the lambda body
    // must stay native (no UDF objects, no Python)
    val sma = graft.operators.SpanDedup.spanMaskApply(
      Tables.documents(spark, sf))
    val smaPlan = finalPlan(sma)
    val smaEx = allExchanges(smaPlan)
    assert(smaEx.forall(_.outputPartitioning.toString.contains("range")),
      s"mask apply must not hash-shuffle (map-only + final sort only):\n" +
        smaEx.map(_.outputPartitioning).mkString("\n"))
    val smaStr = smaPlan.toString
    assert(!smaStr.contains("BatchEvalPython") && !smaStr.contains("ScalaUDF"),
      s"the per-token gate must be the native mix64 expression:\n$smaStr")
    // spanTrimApply: the only join is the doc_id equi-join with the plan
    val sta = executed(graft.operators.SpanDedup.spanTrimApply(
      Tables.documents(spark, sf)))
    assert(!sta.contains("CartesianProduct") && !sta.contains("NestedLoop"),
      s"trim apply must join its plan by doc_id only:\n$sta")
    // regenSplits: equi-joins only, and the documents scan prunes to
    // (doc_id, text) — the composed pipeline must not widen the scan
    val rg = graft.operators.Curation.regenSplits(
      Tables.documents(spark, sf))
    val rgStr = executed(rg)
    assert(!rgStr.contains("CartesianProduct") && !rgStr.contains("NestedLoop"),
      s"regen must stay equi-join shaped:\n$rgStr")
    val rgLeaves = leaves(rg)
    assert(!rgLeaves.contains("n_chars") && !rgLeaves.contains("lang"),
      s"regen must prune the documents scan to (doc_id, text):\n$rgLeaves")
  }

  test("shared-span graph additions keep hashed-long shuffles, no products") {
    // linkPrediction: strictly equi-joins (wedge join + anti-join)
    val lp = finalPlan(graft.operators.Centrality.linkPrediction(
      Tables.documents(spark, sf)))
    assert(!lp.toString.contains("CartesianProduct") &&
      !lp.toString.contains("NestedLoop"),
      s"wedge joins must stay equi-joins:\n$lp")
    // docHits: the mean-normalization scalars are 1-row broadcasts
    // (BroadcastNestedLoopJoin is the legitimate scalar-attach plan);
    // the data-sized joins must still never be products
    val dh = finalPlan(graft.operators.Centrality.docHits(
      Tables.documents(spark, sf)))
    assert(!dh.toString.contains("CartesianProduct"),
      s"incidence joins must never materialize a product:\n$dh")
    for (plan <- Seq(lp, dh)) {
      val stringExchange = allExchanges(plan).find(_.output.exists(a =>
        a.dataType == org.apache.spark.sql.types.StringType))
      assert(stringExchange.isEmpty,
        s"graph shuffles must carry hashed longs, never shingle strings:\n" +
          stringExchange.mkString)
    }
  }

  test("contribution bounding: user-hashed exchanges, never single-partition") {
    val df = graft.operators.Privacy.contributionCappedAgg(
      Tables.events(spark, sf))
    val plan = finalPlan(df)
    val exchanges = allExchanges(plan)
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.outputPartitioning.toString.contains("SinglePartition"),
        s"the per-user window must not serialize through one task:\n$plan")
    }
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
  }

  test("bh_fdr: replicate rows from one scan, hash-aggregated, no per-replicate scans") {
    val plan = finalPlan(
      graft.operators.MultipleTesting.bhFdr(Tables.events(spark, sf)))
    // the B replicate rows per unit come from one posexplode of the
    // seeds, not from B scans: exactly one scan leaf over events, and the
    // (stratum, replicate) sums in a HashAggregate
    val scans = deepLeaves(plan).map(_.toString).count(_.contains("events"))
    assert(scans == 1, s"replicates must share one scan, saw $scans:\n$plan")
    assert(plan.toString.contains("HashAggregate"), plan.toString)
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
  }

  test("perm_test_ab: replicate rows from one scan, hash-aggregated, no join") {
    val plan = finalPlan(
      graft.operators.Randomization.permTestAb(Tables.events(spark, sf)))
    // every replicate row carries its observed sums, so the exceed
    // compare needs no join back to an observed-statistics frame
    val scans = deepLeaves(plan).map(_.toString).count(_.contains("events"))
    assert(scans == 1, s"replicates must share one scan, saw $scans:\n$plan")
    assert(plan.toString.contains("HashAggregate"), plan.toString)
    // (the tree string covers every query stage: BroadcastHashJoin,
    // SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin)
    assert(!plan.toString.contains("Join"), plan.toString)
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
  }

  test("ransac_trend: models broadcast into the scoring join, no product") {
    val plan = finalPlan(
      graft.operators.Ransac.ransacTrend(Tables.events(spark, sf)))
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"the |types|*B model frame must broadcast:\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("weighted_jaccard_rerank: df-banded index join stays equi, no product") {
    val plan = finalPlan(graft.operators.WeightedJaccard
      .weightedJaccardRerank(Tables.documents(spark, sf)))
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
  }

  test("unigram_segment: corpus scanned for word counts only; DP is row-local") {
    val df = graft.functions.UnigramTokenizer.unigramSegment(
      Tables.documents(spark, sf))
    val plan = finalPlan(df)
    // the documents parquet must be read at most once in the audited
    // plan: the word-type frame is checkpointed (its one corpus scan runs
    // at materialization), so the DP plan itself must show ZERO parquet
    // leaves — a second live scan here would mean the checkpoint stopped
    // covering a consumer
    val scans = deepLeaves(plan).map(_.toString)
      .count(s => s.contains("documents") && s.contains("Scan"))
    assert(scans <= 1, s"expected at most one corpus scan, saw $scans:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
  }

  test("dbscan + kcenter: no cartesian; cell/candidate joins stay equi") {
    for (df <- Seq(
      graft.operators.Similarity.dbscanLsh(Tables.embeddings(spark, sf)),
      graft.operators.Similarity.kCenterSelection(
        Tables.embeddings(spark, sf)))) {
      val plan = finalPlan(df)
      assert(!plan.toString.contains("CartesianProduct"), plan.toString)
    }
  }

  test("mixture_optimal_alloc: corpus work is one partial-aggregated scan") {
    val plan = finalPlan(graft.operators.Mixture.optimalMixture(
      Tables.documents(spark, sf), budgetPpm = 900000L))
    val s = plan.toString
    // exactly one scan over documents; the per-source supply aggregation
    // map-side combines before its exchange — everything downstream runs
    // on the |sources|-row frame (its single-partition windows are bounded
    // by construction: rows = distinct sources)
    val scans = deepLeaves(plan).map(_.toString).count(_.contains("documents"))
    assert(scans == 1, s"supply agg must share one scan, saw $scans:\n$s")
    assert(s.contains("HashAggregate"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("dist_matched_sample: range-partitioned rank, broadcast quota probe, one corpus pass") {
    val df = graft.operators.Mixture.distMatchedSample(
      Tables.documents(spark, sf))
    try {
      val plan = finalPlan(df)
      val s = plan.toString
      // the corpus rank rides RangePartitioning (DistributedRank over the
      // (bucket, pri, doc_id) total order) — never an 8-task per-bucket
      // window
      assert(s.contains("rangepartitioning") || s.contains("RangePartitioning"),
        s)
      assert(!s.contains("CartesianProduct"), s)
      // the quota/offset dimension joins back to the ranked corpus as a
      // BROADCAST probe, not a shuffle of the pool
      assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
        s)
      // every single-partition exchange sits over an AGGREGATED (≤8-row
      // histogram) subtree, never over raw corpus rows
      allExchanges(plan)
        .filter(_.outputPartitioning.toString.contains("SinglePartition"))
        .foreach { e =>
          assert(e.child.collect { case a if a.nodeName.contains("Aggregate") => a }
            .nonEmpty, s"single-partition exchange over non-aggregated input:\n$e")
        }
      // the tokenize+hash pass is persisted once: the corpus parquet is
      // read through the InMemoryRelation, and the histograms/rank reuse
      // it rather than re-scanning documents per consumer
      val docScans = deepLeaves(plan).map(_.toString)
        .count(p => p.contains("documents") && !p.contains("InMemory"))
      assert(docScans == 0, s"expected zero raw documents scans:\n$s")
    } finally graft.operators.PlanCache.releasePerQuery(spark)
  }

  test("dist_matched_token_sample: range-partitioned cumsum, broadcast probe, one corpus pass") {
    val df = graft.operators.Mixture.distMatchedTokenSample(
      Tables.documents(spark, sf))
    try {
      val plan = finalPlan(df)
      val s = plan.toString
      // the running-sum gate rides the distributed prefix sum's
      // RangePartitioning, never a per-bucket (≤8-task) sum window
      assert(s.contains("rangepartitioning") || s.contains("RangePartitioning"),
        s)
      assert(!s.contains("CartesianProduct"), s)
      assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
        s)
      allExchanges(plan)
        .filter(_.outputPartitioning.toString.contains("SinglePartition"))
        .foreach { e =>
          assert(e.child.collect { case a if a.nodeName.contains("Aggregate") => a }
            .nonEmpty, s"single-partition exchange over non-aggregated input:\n$e")
        }
      val docScans = deepLeaves(plan).map(_.toString)
        .count(p => p.contains("documents") && !p.contains("InMemory"))
      assert(docScans == 0, s"expected zero raw documents scans:\n$s")
    } finally graft.operators.PlanCache.releasePerQuery(spark)
  }

  test("per_source_quality_gate: one scan, range-partitioned rank, no 1-task window") {
    val df = graft.operators.Curation.perSourceQualityGate(
      Tables.documents(spark, sf), Seq("the", "a", "of", "and"))
    try {
      val plan = finalPlan(df)
      val s = plan.toString
      // the corpus-scale rank must ride RangePartitioning (DistributedRank),
      // never a single-partition global window sort
      assert(s.contains("rangepartitioning") || s.contains("RangePartitioning"),
        s)
      assert(!s.contains("CartesianProduct"), s)
      // src_n rides the same source exchange as src_rank and total_n comes
      // from the rank offsets' counting job: NO single-partition exchange
      // anywhere in the gate
      val singles = allExchanges(plan).filter(
        _.outputPartitioning.toString.contains("SinglePartition"))
      assert(singles.isEmpty, s"unexpected single-partition exchanges:\n$s")
      // and one scan leaf feeds everything (the ranked frame is the
      // persisted range-partitioned cache, not a re-read of documents)
      val docScans = deepLeaves(plan).map(_.toString)
        .count(_.contains("documents"))
      assert(docScans <= 1, s"gate must not rescan documents:\n$s")
    } finally graft.operators.DistributedRank.release(spark)
  }

  /** The hourly table over the test events, as a served parquet table. */
  private lazy val servedParquet: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_served").toString + "/agg"
    graft.operators.HourlyAggregation(Tables.events(spark, sf))
      .withColumn("created_at", org.apache.spark.sql.functions.lit(-1L))
      .write.parquet(dir)
    dir
  }

  /** Every node of the final plan, descending into adaptive query stages. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case s: QueryStageExec => allNodes(s.plan)
      case n => Seq(n)
    }.flatten

  test("upsertBatch's merge is one narrow stage: no exchange, sort or window") {
    import org.apache.spark.sql.functions.{col, lit}
    val served = spark.read.parquet(servedParquet)
    val batch = served.orderBy(col("window_start").desc, col("event_type")).limit(3)
      .withColumn("event_count", col("event_count") + 1)
      .withColumn("created_at", lit(7L))
    graft.streaming.StreamingAgg.withReplacedKeys(spark, Some(served), batch) { merged =>
      val plan = finalPlan(merged)
      val nodes = allNodes(plan).map(_.nodeName)
      assert(allExchanges(plan).isEmpty, s"the merge must not shuffle:\n$plan")
      assert(!nodes.exists(n => n.contains("Window") || n.contains("Sort") ||
        n.contains("Exchange")), s"the merge must not sort or window:\n$plan")
      assert(nodes.contains("Coalesce") && nodes.contains("Union") &&
        nodes.contains("InMemoryTableScan"), plan.toString)
      assert(merged.count() == served.count())
      assert(merged.filter(col("created_at") === 7L).count() == 3L)
    }
    // an empty batch keeps every served row
    graft.streaming.StreamingAgg.withReplacedKeys(spark, Some(served), batch.limit(0)) { unchanged =>
      assert(unchanged.count() == served.count())
    }
  }

  test("upsertBatch's merge plan does not grow with the batch's keys") {
    import org.apache.spark.sql.functions.lit
    val served = spark.read.parquet(servedParquet)
    val keys = served.count()
    assert(keys > 100L)
    def planText(n: Long) = graft.streaming.StreamingAgg.withReplacedKeys(spark, Some(served),
        served.withColumn("created_at", lit(7L)).limit(n.toInt)) { merged =>
      assert(merged.count() == keys)
      merged.queryExecution.optimizedPlan.toString
        .replaceAll("#\\d+L?", "#").replaceAll("Limit \\d+", "Limit n")
    }
    // a batch that covers the served table plans like a one-key batch
    val (all, one) = (planText(keys), planText(1))
    assert(all == one, s"$all\n!=\n$one")
  }

  test("Q3-Q5 sort in one partition: one hash exchange, no range exchange") {
    import graft.queries.ReadQueries
    val served = spark.read.parquet(servedParquet)
    for ((name, q) <- Seq(
        "getStats" -> ReadQueries.getStats(served),
        "getEventTypes" -> ReadQueries.getEventTypes(served),
        "groupedSum" -> ReadQueries.groupedSum(served))) {
      val plan = finalPlan(q)
      val parts = allExchanges(plan).map(_.outputPartitioning.toString)
      assert(!parts.exists(_.contains("rangepartitioning")), s"$name:\n$plan")
      assert(parts.count(_.contains("hashpartitioning")) == 1 && parts.size == 1,
        s"$name: expected exactly one hash exchange:\n$plan")
    }
  }

  test("Q1-Q2 stay a top-K: TakeOrderedAndProject, no exchange, no coalesce") {
    import graft.queries.ReadQueries
    val served = spark.read.parquet(servedParquet)
    for ((name, q) <- Seq(
        "getAggregations" -> ReadQueries.getAggregations(served,
          eventType = Some("purchase"), limit = 20, offset = 5),
        "getLatest" -> ReadQueries.getLatest(served, 10))) {
      val plan = finalPlan(q)
      val nodes = allNodes(plan).map(_.nodeName)
      assert(nodes.head == "TakeOrderedAndProject", s"$name:\n$plan")
      assert(allExchanges(plan).isEmpty && !nodes.contains("Coalesce"), s"$name:\n$plan")
    }
  }
}
