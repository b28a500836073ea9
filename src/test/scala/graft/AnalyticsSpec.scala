package graft

import graft.queries.Analytics

/** Plan-shape assertions: these lock in the physical properties that matter
  * at cluster scale (broadcast joins over dim tables, filter pushdown into
  * the parquet scan, partial aggregation) — not just result correctness.
  */
class AnalyticsSpec extends SparkTestBase {

  test("lastTouchAttribution: lookback, same-ts touch, and no-touch cases") {
    import spark.implicits._
    val ev = Seq(
      // user 1: view then click then purchase 15m later -> click;
      // a second purchase 90m after the click -> outside 1h -> none
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:30:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:45:00", 1L, "purchase", 10.0),
      (4L, "2024-01-01 12:00:00", 1L, "purchase", 20.0),
      // user 2: purchase with no prior touch -> none
      (5L, "2024-01-01 09:00:00", 2L, "purchase", 5.0),
      // user 3: touch at the exact purchase timestamp counts (side order)
      (6L, "2024-01-01 11:00:00", 3L, "view", 0.0),
      (7L, "2024-01-01 11:00:00", 3L, "purchase", 7.5)
    ).map { case (id, t, u, tp, v) =>
      (id, java.sql.Timestamp.valueOf(t), u, tp, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.AsOfJoin.lastTouchAttribution(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "click" -> (1L, 1000L), // purchase 3
      "none" -> (2L, 2500L), //  purchases 4 + 5
      "view" -> (1L, 750L))) //  purchase 7 (same-ts touch visible)
  }

  test("pointInTimeFeatures: inclusive as-of, same-date collapse, zero history") {
    import spark.implicits._
    import java.sql.Timestamp
    val orders = Seq(
      // user 1: two orders on the same date (must collapse to the date-
      // final cumulative), one later order AFTER the event (must not leak)
      (101L, 1L, "2024-01-01 00:00:00", 10.0),
      (102L, 1L, "2024-01-01 00:00:00", 20.0),
      (103L, 1L, "2024-03-01 00:00:00", 40.0),
      // user 3: order dated exactly at the event timestamp (inclusive)
      (104L, 3L, "2024-02-01 12:00:00", 15.0)
    ).map { case (ok, ck, d, v) => (ok, ck, Timestamp.valueOf(d), v) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val events = Seq(
      (1L, "2024-02-01 12:00:00", 1L, "purchase", 1.0),
      (2L, "2024-02-01 12:00:00", 2L, "purchase", 1.0), // no history -> zeros
      (3L, "2024-02-01 12:00:00", 3L, "purchase", 1.0),
      (4L, "2024-02-01 12:00:00", 1L, "view", 1.0) // not a purchase -> absent
    ).map { case (id, t, u, tp, v) => (id, Timestamp.valueOf(t), u, tp, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.operators.AsOfJoin.pointInTimeFeatures(events, orders)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      1L -> (2L, 3000L), // both 2024-01-01 orders, NOT the march one
      2L -> (0L, 0L),
      3L -> (1L, 1500L))) // the same-instant order is visible
  }

  test("userTrailingWindow: RANGE frame matches brute force; peers enter together") {
    import spark.implicits._
    import java.sql.Timestamp
    val ev = Seq(
      // user 1: spread over 2.5 hours; events 3+4 share a timestamp (peers)
      (1L, "2024-01-01 10:00:00", 1L, 10.0),
      (2L, "2024-01-01 10:30:00", 1L, 20.0),
      (3L, "2024-01-01 11:15:00", 1L, 5.0),
      (4L, "2024-01-01 11:15:00", 1L, 7.0),
      (5L, "2024-01-01 12:31:00", 1L, 1.0),
      // user 2: one event
      (6L, "2024-01-01 10:05:00", 2L, 3.0)
    ).map { case (id, t, u, v) => (id, Timestamp.valueOf(t), u, v) }
      .toDF("event_id", "ts", "user_id", "value")
    val r = graft.queries.Analytics.userTrailingWindow(ev)
      .collect().map(x => x.getLong(0) -> (x.getLong(2), x.getDouble(3))).toMap
    // brute force: rows of the same user within [t-1h, t]
    assert(r(1L) == (1L, 10.0))
    assert(r(2L) == (2L, 30.0)) // 10:00 within the hour
    // RANGE semantics: the two 11:15 peers see EACH OTHER (and 10:30)
    assert(r(3L) == (3L, 32.0), s"got ${r(3L)}")
    assert(r(4L) == (3L, 32.0))
    assert(r(5L) == (1L, 1.0)) // nothing within the trailing hour
    assert(r(6L) == (1L, 3.0))
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dim joins broadcast (no shuffle of the fact table for the join)") {
    val p1 = plan(Analytics.mktsegRevenue(Tables.orders(spark, sf), Tables.customer(spark, sf)))
    assert(p1.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p1")
    assert(!p1.contains("SortMergeJoin"))

    val p2 = plan(Analytics.nationRevenue(
      Tables.orders(spark, sf), Tables.customer(spark, sf),
      Tables.nation(spark, sf), Tables.region(spark, sf)))
    assert(p2.split("BroadcastHashJoin").length >= 4, s"expected 3 broadcast joins:\n$p2")
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = plan(Analytics.pricingSummary(Tables.lineitem(spark, sf)))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("top-K plans as TakeOrderedAndProject, not global sort") {
    val p = plan(Analytics.topBrandsByRevenue(Tables.lineitem(spark, sf), Tables.part(spark, sf)))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("semi/anti joins plan as such") {
    val semi = plan(Analytics.bigSpenders(Tables.orders(spark, sf), Tables.customer(spark, sf)))
    val anti = plan(Analytics.customersWithoutBigOrders(Tables.orders(spark, sf), Tables.customer(spark, sf)))
    assert(semi.contains("LeftSemi"), semi)
    assert(anti.contains("LeftAnti"), anti)
  }

  test("pricing summary column pruning: scan reads only needed columns") {
    val df = Analytics.pricingSummary(Tables.lineitem(spark, sf))
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // l_orderkey/l_partkey/l_suppkey/l_comment must not be read
    assert(!scans.contains("l_orderkey"), scans)
    assert(scans.contains("l_shipdate"))
  }

  test("distributed rank stats are row-identical to the single-window formulation") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, sf)
    val got = Analytics.customerSpendQuartiles(orders).collect()
    // reference: the plain unpartitioned-window formulation over the same
    // per-user rollup (the shape customerSpendQuartiles used to run)
    val perUser = orders
      .groupBy(col("o_custkey"))
      .agg(Analytics.decSum(col("o_totalprice"), 2).as("total_spend"),
        count(lit(1)).as("order_count"))
    val w = Window.orderBy(col("total_spend"), col("o_custkey"))
    val expected = perUser.select(
        col("o_custkey"), col("total_spend"), col("order_count"),
        ntile(4).over(w).as("spend_quartile"),
        percent_rank().over(w).as("spend_pct_rank"),
        cume_dist().over(w).as("spend_cume_dist"))
      .orderBy(col("o_custkey"))
      .collect()
    assert(got.length == expected.length && got.nonEmpty)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
  }

  test("distributed rank edge cases match window functions (n < k, n == 1, empty)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def reference(df: org.apache.spark.sql.DataFrame, k: Int) = {
      val w = Window.orderBy(col("v"), col("id"))
      df.select(col("id"), col("v"),
          ntile(k).over(w).as("t"),
          percent_rank().over(w).as("p"),
          cume_dist().over(w).as("c"))
        .orderBy(col("id")).collect().toSeq
    }
    def distributed(df: org.apache.spark.sql.DataFrame, k: Int) =
      graft.operators.DistributedRank
        .withRankStats(df, Seq(col("v"), col("id")), k, "t", "p", "c")
        .select(col("id"), col("v"), col("t"), col("p"), col("c"))
        .orderBy(col("id")).collect().toSeq
    // n < k exercises the small==0 branch (every row its own bucket);
    // n == 1 exercises the percent_rank 0-division guard
    for (n <- Seq(1, 3, 5, 17)) {
      val df = (0 until n).map(i => (i.toLong, (i * 37 % 11).toDouble)).toDF("id", "v")
      assert(distributed(df, 4) == reference(df, 4), s"n=$n diverged")
    }
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(distributed(empty, 4).isEmpty)
  }

  test("distributed rank plan has no single-partition exchange (final AQE plan)") {
    val df = Analytics.customerSpendQuartiles(Tables.orders(spark, sf))
    df.count() // finalize THIS df's adaptive plan before unwrapping it
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    assert(!plan.contains("SinglePartition"),
      s"global ranking must not funnel rows through one task:\n$plan")
  }

  test("ranked frames stay pinned until release(); release drops them all") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    // Assert ONLY on DistributedRank-owned frames (pinnedFrames + each
    // frame's cacheManager storage level) — the global getPersistentRDDs
    // count is perturbed by any concurrently-running suite's caches
    // (Dedup cluster labels, ANN fits), which made the old formulation
    // flaky under parallel test execution.
    graft.operators.DistributedRank.release(spark) // clean slate
    for (round <- 1 to 3) {
      val df = (0 until 200).map(i => ((i * 131 + round).toLong % 97, i.toLong))
        .toDF("v", "id")
      graft.operators.DistributedRank
        .withGlobalRank(df, Seq(col("v"), col("id")), rankCol = "r")
        .count() // materialize: the ranged frame is cached during this call
      // every live frame MUST stay pinned (auto-evicting the previous one
      // corrupted chained rankings — see the DistributedRank.release scaladoc), and the
      // tracked count must equal the number of ranking calls
      val frames = graft.operators.PlanCache
        .pinnedFrames(spark, graft.operators.DistributedRank)
      assert(frames.size == round,
        s"round $round tracked ${frames.size} frames, expected $round")
      frames.foreach { f =>
        assert(f.storageLevel != StorageLevel.NONE,
          s"round $round: a live ranged frame was evicted before release()")
      }
    }
    val pinned = graft.operators.PlanCache
      .pinnedFrames(spark, graft.operators.DistributedRank)
    graft.operators.DistributedRank.release(spark)
    assert(graft.operators.PlanCache
      .pinnedFrames(spark, graft.operators.DistributedRank).isEmpty,
      "release() left frames tracked")
    // unpersist drops the cacheManager entry synchronously (block
    // cleanup is async but storageLevel reads the cacheManager)
    pinned.foreach { f =>
      assert(f.storageLevel == StorageLevel.NONE,
        "release() left a ranged frame cached")
    }
  }

  test("chained rankings (RFM shape) match independent window ntiles") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    graft.operators.DistributedRank.release(spark)
    // three metrics with heavy ties, tie-broken by id — the exact shape
    // that exposed the auto-eviction bug (first two tile columns were
    // computed from an evicted, re-laid-out ranged frame)
    val df = (0 until 5003).map { i =>
      (i.toLong, (i * 131 % 23).toLong, (i * 17 % 7).toLong, (i * 997 % 4999).toLong)
    }.toDF("id", "a", "b", "c")
    def tile(d: org.apache.spark.sql.DataFrame, m: String, out: String) =
      graft.operators.DistributedRank
        .withRankStats(d, Seq(col(m), col("id")), 5, out, s"__p$out", s"__c$out")
        .drop(s"__p$out", s"__c$out")
    val got = tile(tile(tile(df, "a", "ta"), "b", "tb"), "c", "tc")
      .orderBy(col("id"))
      .select(col("id"), col("ta"), col("tb"), col("tc")).collect().toSeq
    val ref = df.select(col("id"),
        ntile(5).over(Window.orderBy(col("a"), col("id"))).as("ta"),
        ntile(5).over(Window.orderBy(col("b"), col("id"))).as("tb"),
        ntile(5).over(Window.orderBy(col("c"), col("id"))).as("tc"))
      .orderBy(col("id")).collect().toSeq
    assert(got == ref)
    graft.operators.DistributedRank.release(spark)
  }

  test("withGlobalRank: ranks are 1..n in sort order under a custom layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (0 until 97).map(i => (i.toLong, ((i * 53) % 31).toDouble)).toDF("id", "v")
    val ranked = graft.operators.DistributedRank
      .withGlobalRank(df, Seq(col("v"), col("id")), rankCol = "r", numParts = 7)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // the rank permutation must equal the explicit sort order, exactly 1..n
    val bySort = ranked.sortBy { case (id, v, _) => (v, id) }.map(_._3)
    assert(bySort.toSeq == (1L to 97L), s"ranks out of order: ${bySort.toSeq}")
  }
}
