package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.queries.Analytics

/** Fixture-level contracts for the round-8 phase-7 surface (the DuckDB
  * oracles hash-verify the corpus results; these pin the boundary semantics
  * and algebraic identities on hand-computable inputs).
  */
class Round8Phase7Spec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // ---- activity_streaks ----------------------------------------------------

  test("activityStreaks: islands split exactly on a missing day; earliest longest run wins") {
    val events = Seq(
      // user 1: days 1,2,3 | 5,6 | 10  -> 3 streaks, longest 3 starts day 1
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 23:59:59")),
      (1L, ts("2024-01-02 00:00:00")), (1L, ts("2024-01-03 12:00:00")),
      (1L, ts("2024-01-05 08:00:00")), (1L, ts("2024-01-06 08:00:00")),
      (1L, ts("2024-01-10 08:00:00")),
      // user 2: two equal-length streaks (2,2) -> earliest start reported
      (2L, ts("2024-01-04 00:00:00")), (2L, ts("2024-01-05 00:00:00")),
      (2L, ts("2024-01-08 00:00:00")), (2L, ts("2024-01-09 00:00:00"))
    ).toDF("user_id", "ts")
    val got = Analytics.activityStreaks(events).collect()
    val u1 = got.find(_.getLong(0) == 1L).get
    assert(u1.getLong(1) == 6 && u1.getLong(2) == 3 && u1.getLong(3) == 3)
    assert(u1.getDate(4).toString == "2024-01-01")
    val u2 = got.find(_.getLong(0) == 2L).get
    assert(u2.getLong(3) == 2, "longest of the tie is 2")
    assert(u2.getDate(4).toString == "2024-01-04", "tie resolves to the EARLIEST run")
  }

  // ---- event_transitions ---------------------------------------------------

  test("eventTransitions: successor pairs per user in (ts, event_id) order; exact ppm") {
    val events = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, 2L, ts("2024-01-01 10:01:00"), "b"),
      (1L, 3L, ts("2024-01-01 10:02:00"), "a"),
      // user 2 contributes one more a->b
      (2L, 4L, ts("2024-01-01 10:00:00"), "a"),
      (2L, 5L, ts("2024-01-01 10:01:00"), "b")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = Analytics.eventTransitions(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got(("a", "b")) == (2L, 2L, 1000000L), "a->b is all of a's transitions")
    assert(got(("b", "a")) == (1L, 1L, 1000000L))
    assert(got.size == 2, "last events (no successor) contribute nothing")
  }

  test("eventTransitions: equal timestamps order by event_id (deterministic)") {
    val t0 = ts("2024-01-01 10:00:00")
    val events = Seq(
      (1L, 2L, t0, "b"), (1L, 1L, t0, "a"), (1L, 3L, t0, "c")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = Analytics.eventTransitions(events).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a", "b"), ("b", "c")))
  }

  // ---- session_paths -------------------------------------------------------

  test("sessionPaths: path is the first 5 events in order; 30-min gap splits sessions") {
    val events = Seq(
      // one 7-event session: path truncates to first 5
      (1L, 1L, ts("2024-01-01 10:00:00"), "a"), (1L, 2L, ts("2024-01-01 10:01:00"), "b"),
      (1L, 3L, ts("2024-01-01 10:02:00"), "c"), (1L, 4L, ts("2024-01-01 10:03:00"), "d"),
      (1L, 5L, ts("2024-01-01 10:04:00"), "e"), (1L, 6L, ts("2024-01-01 10:05:00"), "f"),
      (1L, 7L, ts("2024-01-01 10:06:00"), "g"),
      // a second session for the same user, 31 min later
      (1L, 8L, ts("2024-01-01 10:37:01"), "a"), (1L, 9L, ts("2024-01-01 10:38:00"), "b")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = Analytics.sessionPaths(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("a->b->c->d->e") == (1L, 1L, 7L),
      "7-event session reports the truncated path but the full event count")
    assert(got("a->b") == (1L, 1L, 2L))
  }

  // ---- value_moments -------------------------------------------------------

  test("valueMoments: hand-computed exact numerators (cents 100, 200, 600)") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), "x", Some(1.0)),
      (2L, ts("2024-01-01 00:01:00"), "x", Some(2.0)),
      (3L, ts("2024-01-01 00:02:00"), "x", Some(6.0)),
      (4L, ts("2024-01-01 00:03:00"), "x", None) // null value: excluded
    ).toDF("event_id", "ts", "event_type", "value")
    val r = Analytics.valueMoments(events).collect()(0)
    assert(r.getString(0) == "x" && r.getLong(1) == 3)
    assert(r.getLong(2) == 900, "sum_cents")
    assert(r.getLong(3) == 300000000L, "mean = 300 cents in micro units")
    // m2*n = 3*410000 - 900^2 = 420000; var = 420000 DIV 9 = 46666
    assert(r.getString(4) == "420000" && r.getLong(5) == 46666)
    // m3*n^2 = 9*225e6 - 9*900*410000 + 2*900^3 = 162e6 (right skew)
    assert(r.getString(6) == "162000000" && r.getLong(7) == 1L)
  }

  test("valueMoments: symmetric values have zero skewness numerator") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), "x", Some(1.0)),
      (2L, ts("2024-01-01 00:01:00"), "x", Some(2.0)),
      (3L, ts("2024-01-01 00:02:00"), "x", Some(3.0))
    ).toDF("event_id", "ts", "event_type", "value")
    val r = Analytics.valueMoments(events).collect()(0)
    assert(r.getString(6) == "0" && r.getLong(7) == 0L)
  }

  // ---- winnow_fingerprints -------------------------------------------------

  test("winnowing: shared substring of length k+w-1 guarantees a shared fingerprint") {
    // k=8, w=4: any common substring of >= 11 chars must collide.
    val shared = "ABCDEFGHIJK" // exactly k+w-1 = 11
    val docs = Seq(
      (1L, s"xxxxxxx${shared}yyyyyyyyy"),
      (2L, s"qqq${shared}zzzzzzzzzzzzzzz")
    ).toDF("doc_id", "text")
    val sel = TextAnalysis.winnowSelected(docs)
      .select(col("doc_id"), col("winmin")).collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert(sel(1L).intersect(sel(2L)).nonEmpty,
      "SIGMOD'03 winnowing guarantee: shared >= k+w-1 substring -> shared fingerprint")
  }

  test("winnowing: uniform text ties select the RIGHTMOST window position") {
    // all k-grams identical -> every window's min is the same hash and the
    // rightmost position of each window is selected: positions w..m.
    val m = 20 - 8 + 1 // 13 grams
    val docs = Seq((1L, "a" * 20)).toDF("doc_id", "text")
    val sel = TextAnalysis.winnowSelected(docs).collect().map(_.getLong(1)).sorted
    assert(sel.toSeq == (4L to m.toLong).toSeq,
      s"expected rightmost-tie positions 4..$m, got ${sel.toSeq}")
    val fp = TextAnalysis.winnowFingerprints(docs).collect()(0)
    assert(fp.getLong(1) == m && fp.getLong(2) == m - 3 && fp.getLong(3) == m - 3)
  }

  test("winnowing: docs shorter than k are excluded; doc with m < w still fingerprints") {
    val docs = Seq(
      (1L, "short"), // len 5 < k=8: no k-gram
      (2L, "exactly09") // len 9 -> m=2 grams < w: one clipped window
    ).toDF("doc_id", "text")
    val got = TextAnalysis.winnowFingerprints(docs).collect()
    assert(got.length == 1 && got(0).getLong(0) == 2L)
    assert(got(0).getLong(1) == 2 && got(0).getLong(2) == 1,
      "m=2 grams, one clipped window")
    assert(got(0).getLong(3) == 1, "the clipped window selects exactly one fingerprint")
  }

  test("winnowing: native one-pass expression == declarative pipeline, row for row") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val a = TextAnalysis.winnowFingerprints(docs).collect().toSeq
    val b = TextAnalysis.winnowFingerprintsNative(docs).collect().toSeq
    assert(a == b, "the monotonic-deque path must reproduce the join path exactly")
    // and on the adversarial all-ties doc
    val ties = Seq((1L, "a" * 20), (2L, "exactly09")).toDF("doc_id", "text")
    assert(TextAnalysis.winnowFingerprints(ties).collect().toSeq ==
      TextAnalysis.winnowFingerprintsNative(ties).collect().toSeq)
    // the native hash LIST carries the same distinct hash set per doc
    // as the declarative selection frame (candidate-pair input contract)
    val declSets = TextAnalysis.winnowSelected(docs)
      .select(col("doc_id"), col("winmin")).collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    val nativeSets = docs.filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        explode(graft.functions.GraftColumns.winnowHashes(col("text"))).as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert(declSets == nativeSets)
  }

  test("winnow_stats is reachable from SQL text (parser path)") {
    val got = spark.sql(
      "SELECT winnow_stats('aaaaaaaaaaaaaaaaaaaa') AS ws").collect()(0)
      .getSeq[Long](0)
    // 20 chars, k=8 -> m=13 grams, 10 windows, rightmost ties -> 10 fps
    assert(got == Seq(13L, 10L, 10L, got(3)))
  }

  test("winnowing deque == independent naive reference on 500 random strings") {
    // brute-force reference: per window, min then rightmost tie — written
    // from the SIGMOD'03 definition, sharing NO code with the deque path
    def fnv(bs: Array[Byte], off: Int, len: Int): Long = {
      var h = -3750763034362895579L
      for (i <- off until off + len) h = (h ^ (bs(i) & 0xffL)) * 1099511628211L
      h
    }
    def naive(bytes: Array[Byte], k: Int, w: Int): Seq[Long] = {
      val n = bytes.length
      if (n < k) return Seq.empty
      val m = n - k + 1
      val h = (0 until m).map(i => fnv(bytes, i, k))
      val sels = for (t <- 0 until math.max(m - w + 1, 1)) yield {
        val win = t to math.min(t + w - 1, m - 1)
        val mn = win.map(h).min
        val sel = win.filter(i => h(i) == mn).max
        (sel, h(sel))
      }
      sels.distinct.map(_._2)
    }
    val rnd = new scala.util.Random(42)
    val cases =
      Seq("", "a", "aaaaaaaaaa", "abababababab", "abcdefghijkl") ++
        (1 to 500).map { _ =>
          val len = rnd.nextInt(60)
          (1 to len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
        }
    for (s <- cases; (k, w) <- Seq((4, 3), (8, 4), (2, 5))) {
      val bytes = s.getBytes("UTF-8")
      val expect = naive(bytes, k, w)
      val got = graft.functions.WinnowStats.hashes(bytes, k, w).toSeq
      assert(got == expect, s"k=$k w=$w text='$s'")
      val stats = graft.functions.WinnowStats.compute(bytes, k, w)
      assert(stats(2) == expect.length, s"count mismatch k=$k w=$w '$s'")
    }
  }

  test("winnowing: identical docs produce identical fingerprint checksums") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, text), (2L, text), (3L, text.reverse)).toDF("doc_id", "text")
    val got = TextAnalysis.winnowFingerprints(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == got(2L), "same text -> same (count, checksum)")
    assert(got(1L) != got(3L), "different text diverges")
  }

  // ---- doc_triangles -------------------------------------------------------

  test("docTriangles: three docs sharing a span form exactly one triangle") {
    val span = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"$span alpha beta gamma delta"),
      (2L, s"prefix one two three $span"),
      (3L, s"$span other words entirely here"),
      (4L, "an isolated document with no shared span at all ok")
    ).toDF("doc_id", "text")
    val got = graft.operators.Centrality.docTriangles(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for (d <- Seq(1L, 2L, 3L))
      assert(got(d) == (2L, 1L, 1000000L),
        s"doc $d: degree 2, one triangle, clustering 1.0 in ppm")
    assert(got(4L) == (0L, 0L, 0L), "isolated doc")
  }

  test("docTriangles: a path (no closing edge) has zero triangles") {
    val spanA = (1 to 8).map(i => s"aa$i").mkString(" ")
    val spanB = (1 to 8).map(i => s"bb$i").mkString(" ")
    // 1-2 share spanA, 2-3 share spanB, 1-3 share nothing: wedge, no triangle
    val docs = Seq(
      (1L, s"$spanA filler words here now"),
      (2L, s"$spanA and also $spanB"),
      (3L, s"$spanB trailing content words here")
    ).toDF("doc_id", "text")
    val got = graft.operators.Centrality.docTriangles(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.values.forall(_ == 0L), s"wedge must not count as triangle: $got")
  }

  test("docSeedDistance: hop distances along a path, -1 past the budget") {
    def span(tag: String) = (1 to 8).map(i => s"$tag$i").mkString(" ")
    // path 1 -11 -12 -13 -14 via exclusive shared spans; 15 isolated
    val docs = Seq(
      (1L, s"${span("a")} filler words here now one"),
      (11L, s"${span("a")} and then ${span("b")}"),
      (12L, s"${span("b")} and then ${span("c")}"),
      (13L, s"${span("c")} and then ${span("d")}"),
      (14L, s"${span("d")} trailing body words here"),
      (15L, "isolated text with no shared span at all ok")
    ).toDF("doc_id", "text")
    val got = graft.operators.Centrality
      .docSeedDistance(docs, docs.filter(col("doc_id") === 1L), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 11L -> 1L, 12L -> 2L, 13L -> 3L,
      14L -> -1L, 15L -> -1L), s"got $got")
  }

  // ---- dedup_keep_best -----------------------------------------------------

  test("keepBestPerCluster: the higher-quality duplicate survives, not the min id") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val extra = (41 to 55).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), // near-dup of 2, shorter -> lower logit score
      (2L, s"$base $extra"), // same prefix + more tokens -> higher score
      (3L, "completely different text about some other topic entirely here")
    ).toDF("doc_id", "text")
    val got = graft.operators.Curation
      .keepBestPerCluster(docs, Seq("the", "a", "of", "and")).collect()
      .map(r => r.getLong(1) -> (r.getLong(0), r.getBoolean(3))).toMap
    assert(got(1L)._1 == got(2L)._1, "docs 1 and 2 cluster together")
    assert(!got(1L)._2 && got(2L)._2,
      "keeper is the higher-quality member even though doc 1 has the smaller id")
    assert(got(3L)._2, "a singleton cluster keeps itself")
  }

  // ---- concurrent_sessions -------------------------------------------------

  test("concurrentSessions: overlap counts, touching does not, midnight splits") {
    val events = Seq(
      // u1 session [10:00, 10:30); u2 [10:15, 10:45) -> overlap (peak 2)
      (1L, 1L, ts("2024-01-01 10:00:00"), "view", 1.0),
      (2L, 2L, ts("2024-01-01 10:15:00"), "view", 1.0),
      // u4 [09:00, 09:30) and u5 [09:30, 10:00): touching, NOT concurrent
      (4L, 3L, ts("2024-01-01 09:00:00"), "view", 1.0),
      (5L, 4L, ts("2024-01-01 09:30:00"), "view", 1.0),
      // u6 [23:50, 00:20 next day): counts into BOTH days
      (6L, 5L, ts("2024-01-01 23:50:00"), "view", 1.0)
    ).toDF("user_id", "event_id", "ts", "event_type", "value")
    val got = Analytics.concurrentSessions(events).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got("2024-01-01") == (5L, 5L, 2L),
      s"day 1: 5 sessions, 5 users, peak 2 (only the true overlap), got $got")
    assert(got("2024-01-02") == (1L, 1L, 1L),
      "the midnight straddler opens day 2 alone")
  }

  // ---- rendezvous_shards ---------------------------------------------------

  test("rendezvous sharding: zero illegal moves, plausible movement fraction, full coverage") {
    val docs = (1 to 400)
      .map(i => (i.toLong, s"document number $i with some distinct content ${i * 37}"))
      .toDF("doc_id", "text")
    val got = graft.operators.Mixture.rendezvousShards(docs).collect()
    val totalDocs = got.map(_.getLong(1)).sum
    val moving = got.map(_.getLong(2)).sum
    val illegal = got.map(_.getLong(3)).sum
    assert(totalDocs == 400, "every doc is assigned to exactly one shard")
    assert(illegal == 0, "HRW guarantee: no doc relocates between OLD shards")
    // expected moving fraction 1/33 ~ 3%; allow a generous band for n=400
    assert(moving > 0 && moving < 40,
      s"adding one shard should move ~1/33 of docs, moved $moving of 400")
  }

  test("rendezvous sharding is assignment-stable under corpus reorder") {
    val docs = (1 to 50)
      .map(i => (i.toLong, s"stable content $i")).toDF("doc_id", "text")
    val a = graft.operators.Mixture.rendezvousShards(docs).collect().toSeq
    val b = graft.operators.Mixture.rendezvousShards(
      docs.orderBy(desc("doc_id")).repartition(7)).collect().toSeq
    assert(a == b, "assignment is a pure function of content")
  }

  // ---- split_leakage -------------------------------------------------------

  test("splitLeakage: only cross-split pairs survive; counts bounded by the pair frame") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val leaks = TextAnalysis.splitLeakage(docs).collect()
    assert(leaks.forall(r => r.getString(0) != r.getString(1)))
    val leakPairs = leaks.map(_.getLong(2)).sum
    val allPairs = TextAnalysis.winnowCandidatePairs(docs).count()
    assert(leakPairs <= allPairs,
      "leak matrix is a filter of the candidate-pair frame")
  }

  // ---- HLL merge -----------------------------------------------------------

  test("HLL register merge equals the direct coarse sketch (max-associativity)") {
    val ev = Tables.events(spark, sf)
    val hourly = ev
      .withColumn("day", to_date(col("ts")))
      .withColumn("window_start", date_trunc("hour", col("ts")))
    val viaHourly = graft.operators.Hll.mergeAndEstimate(
      graft.operators.Hll.registers(
        hourly, Seq("day", "window_start", "event_type"), "user_id"),
      Seq("day", "event_type")).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getDouble(2)).toMap
    val direct = graft.operators.Hll.mergeAndEstimate(
      graft.operators.Hll.registers(
        hourly, Seq("day", "event_type"), "user_id"),
      Seq("day", "event_type")).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getDouble(2)).toMap
    assert(viaHourly == direct,
      "merging hourly registers must be BIT-identical to sketching daily directly")
  }

  // ---- shipping_business_sla -----------------------------------------------

  test("business-day delay: weekends excluded, hand-checked calendar cases") {
    // 1995-01-05 = Thursday, 1995-01-06 = Friday, 1995-01-07 = Saturday,
    // 1995-01-09 = Monday, 1995-01-12 = Thursday
    def li(ok: Long, ship: String) =
      (ok, 1L, 1L, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", ts(s"$ship 00:00:00"))
    val lineitem = Seq(
      li(1, "1995-01-12"), // Thu -> Thu+7d: exactly 5 business days
      li(2, "1995-01-09"), // Fri -> Mon: 1 business day (Friday elapses)
      li(3, "1995-01-09")  // Sat -> Mon: 0 business days
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate")
    val orders = Seq(
      (1L, 1L, "O", 1.0, ts("1995-01-05 00:00:00"), "P1"),
      (2L, 1L, "O", 1.0, ts("1995-01-06 00:00:00"), "P2"),
      (3L, 1L, "O", 1.0, ts("1995-01-07 00:00:00"), "P3")
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val got = Analytics.shippingBusinessSla(lineitem, orders).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("P1") == (5000000L, 5L, 1000000L), "Thu->Thu+7 is 5 business days")
    assert(got("P2") == (1000000L, 1L, 1000000L), "Fri->Mon is 1 business day")
    assert(got("P3") == (0L, 0L, 1000000L), "Sat->Mon crosses no business day")
  }

  // ---- TPC-H phase-7 shapes ------------------------------------------------

  test("idleCustomerBalances: threshold is strict and order-free; anti-join removes recent orderers") {
    val customer = Seq(
      (1L, "c1", 0, 100.0, "S"), // bucket 1, below avg(100,300)=200
      (3L, "c3", 0, 300.0, "S"), // bucket 3, above avg, no recent order -> kept
      (13L, "c13", 0, 250.0, "S"), // bucket 3, above avg, HAS recent order -> dropped
      (2L, "c2", 0, 999.0, "S") // bucket 2: not in the code set
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val orders = Seq(
      (10L, 13L, "O", 5.0, ts("1999-06-01 00:00:00"), "1-URGENT"),
      (11L, 3L, "O", 5.0, ts("1998-01-01 00:00:00"), "1-URGENT") // old: no bar
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val got = Analytics.idleCustomerBalances(customer, orders).collect()
    // avg over buckets {1,3}: (100+300+250)/3 = 216.67; above: c3 (300), c13 (250)
    // c13 ordered in 1999 -> dropped; c3 kept
    assert(got.length == 1 && got(0).getLong(0) == 3L && got(0).getLong(1) == 1L)
    assert(got(0).getDouble(2) == 300.0)
  }

  test("supplierYearConcentration: strictly-more-than-half in the year flags the pair") {
    val lineitem = Seq(
      // pair (s1, p1): 10 of 18 in 1995 -> 20 > 18 flagged
      (1L, 1L, 1L, 1, 10.0, 5.0, 0.0, 0.0, "N", "O", ts("1995-03-01 00:00:00")),
      (2L, 1L, 1L, 1, 8.0, 5.0, 0.0, 0.0, "N", "O", ts("1996-03-01 00:00:00")),
      // pair (s1, p2): exactly half -> 10*2 == 20 NOT flagged (strict)
      (3L, 2L, 1L, 1, 10.0, 5.0, 0.0, 0.0, "N", "O", ts("1995-03-01 00:00:00")),
      (4L, 2L, 1L, 1, 10.0, 5.0, 0.0, 0.0, "N", "O", ts("1997-03-01 00:00:00"))
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate")
    val part = Seq((1L, "small ring", "B", "T", 1, 900.0),
      (2L, "small bolt", "B", "T", 1, 900.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    val supplier = Seq((1L, "s1", 0, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val got = Analytics.supplierYearConcentration(lineitem, supplier, part).collect()
    assert(got.length == 1 && got(0).getLong(0) == 1L && got(0).getLong(2) == 1L,
      "only the strictly-concentrated pair counts")
  }
}
