package graft

import java.sql.Timestamp

import graft.operators.TableStats

/** Fixtures for the ANALYZE-style column profile. */
class TableStatsSpec extends SparkTestBase {
  import spark.implicits._

  test("columnStats: counts, ndv, canonical min/max, null accounting") {
    val orders = Seq(
      (1L, 10L, "O", 10.10, Timestamp.valueOf("1995-01-01 00:00:00"), "HI"),
      (2L, 10L, "F", 20.20, Timestamp.valueOf("1996-01-01 00:00:00"), "LO"),
      (3L, 11L, "O", 5.55, Timestamp.valueOf("1994-06-01 00:00:00"), "HI")
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val events = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 1.25),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 7L, "view", 0.50)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TableStats.columnStats(orders, events).collect()
    assert(got.length == 11)
    val byCol = got.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val price = byCol(("orders", "o_totalprice"))
    assert(price.getLong(2) == 3L && price.getLong(3) == 0L &&
      price.getLong(4) == 3L)
    assert(price.getString(5) == "555" && price.getString(6) == "2020")
    val cust = byCol(("orders", "o_custkey"))
    assert(cust.getLong(4) == 2L) // ndv
    val date = byCol(("orders", "o_orderdate"))
    // canonical = epoch micros of the naive timestamp (UTC session)
    assert(date.getString(5) ==
      (Timestamp.valueOf("1994-06-01 00:00:00").getTime * 1000L).toString)
    val et = byCol(("events", "event_type"))
    assert(et.getString(5) == "click" && et.getString(6) == "view")
    assert(byCol(("events", "event_id")).getLong(2) == 2L)
  }

  test("columnStats: ndv skips nulls; all-null column; signed zeros and NaN") {
    val t1 = Timestamp.valueOf("1995-01-01 00:00:00")
    val t2 = Timestamp.valueOf("1996-01-01 00:00:00")
    val orders = Seq(
      (1L, Some(10L), Some("O"), 0.0, t1, Option.empty[String]),
      (2L, None, None, -0.0, t2, None),
      (3L, Some(10L), Some("F"), 1.5, t2, None),
      (4L, Some(11L), None, -0.0, t1, None)
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val events = Seq(
      (1L, t1, Option.empty[Long], Some("click"), Double.NaN),
      (2L, t2, None, None, 0.0),
      (3L, t2, None, Some("click"), Double.NaN),
      (4L, t1, None, Some("view"), -0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    // (table, column) -> (n_rows, n_nulls, ndv, min_canon, max_canon)
    val got = TableStats.columnStats(orders, events).collect().map(r =>
      (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.getString(5)), Option(r.getString(6))))).toSeq
    val t1us = (t1.getTime * 1000L).toString
    val t2us = (t2.getTime * 1000L).toString
    assert(got == Seq(
      // 0.0 and -0.0 are one value, every NaN is one value (countDistinct
      // semantics); NaN has no cents form, so it leaves min/max null
      ("events", "event_id") -> ((4L, 0L, 4L, Some("1"), Some("4"))),
      ("events", "event_type") -> ((4L, 1L, 2L, Some("click"), Some("view"))),
      ("events", "ts") -> ((4L, 0L, 2L, Some(t1us), Some(t2us))),
      ("events", "user_id") -> ((4L, 4L, 0L, None, None)),
      ("events", "value") -> ((4L, 0L, 2L, Some("0"), Some("0"))),
      ("orders", "o_custkey") -> ((4L, 1L, 2L, Some("10"), Some("11"))),
      ("orders", "o_orderdate") -> ((4L, 0L, 2L, Some(t1us), Some(t2us))),
      ("orders", "o_orderkey") -> ((4L, 0L, 4L, Some("1"), Some("4"))),
      ("orders", "o_orderpriority") -> ((4L, 4L, 0L, None, None)),
      ("orders", "o_orderstatus") -> ((4L, 2L, 2L, Some("F"), Some("O"))),
      ("orders", "o_totalprice") -> ((4L, 0L, 2L, Some("0"), Some("150")))))
  }
}
