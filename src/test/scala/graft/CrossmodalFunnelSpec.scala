package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Cross-modal dedup funnel: the five stage gates (audio exact → audio
  * near → image exact → image near → text exact) recomputed brute-force on
  * the driver from the formula fingerprints must yield the same survivor
  * counts, and the counts must be monotone non-increasing.
  */
class CrossmodalFunnelSpec extends SparkTestBase {
  import spark.implicits._

  private def audioAfp(d: Long): Long = {
    val n = (64 + d % 97).toInt
    val abs = Array.tabulate(n)(i => math.abs((d * 7 + i.toLong * 193) % 65536 - 32768))
    val e = Array.tabulate(65)(f => abs.slice(f * n / 65, (f + 1) * n / 65).sum)
    var fp = 0L
    for (f <- 0 until 64) if (e(f + 1) > e(f)) fp |= 1L << f
    fp
  }

  private def imageDhash(d: Long): Long = {
    val w = (8 + d % 13).toInt
    val h = (8 + d % 11).toInt
    def g(x: Int, y: Int): Int = ((d + 31L * x + 17L * y) % 256L).toInt
    var fp = 0L
    for (yt <- 0 until 8) {
      val ys = yt * h / 8
      var prev = g(0, ys)
      for (xt <- 0 until 8) {
        val next = g((xt + 1) * w / 9, ys)
        if (next > prev) fp |= 1L << (yt * 8 + xt)
        prev = next
      }
    }
    fp
  }

  test("funnel stage counts equal the brute-force recompute") {
    val docs = Tables.documents(spark, sf)
    val got = Multimodal.crossmodalDedupFunnel(spark, docs)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))

    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("MD5")
    case class Fp(id: Long, afp: Long, dh: Long, th: String)
    val fps = rows.map { case (id, text) =>
      md.reset()
      val th = md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      Fp(id, audioAfp(id), imageDhash(id), th)
    }
    def exactStage(in: Seq[Fp], key: Fp => Any): Seq[Fp] = {
      val keep = in.groupBy(key).values.map(_.map(_.id).min).toSet
      in.filter(f => keep(f.id))
    }
    def nearStage(in: Seq[Fp], fp: Fp => Long): Seq[Fp] =
      in.filter(s => !in.exists(t => t.id < s.id &&
        java.lang.Long.bitCount(fp(t) ^ fp(s)) <= 2))
    val s1 = exactStage(fps.toSeq, _.afp)
    val s2 = nearStage(s1, _.afp)
    val s3 = exactStage(s2, _.dh)
    val s4 = nearStage(s3, _.dh)
    val s5 = exactStage(s4, _.th)
    val expect = Seq(
      (0, "ingested", fps.length.toLong),
      (1, "audio_exact", s1.size.toLong),
      (2, "audio_near", s2.size.toLong),
      (3, "image_exact", s3.size.toLong),
      (4, "image_near", s4.size.toLong),
      (5, "text_exact", s5.size.toLong))
    assert(got.toSeq == expect)
    // the funnel actually funnels (each gate drops something on the fixture)
    assert(expect.map(_._3).sliding(2).forall(p => p(1) <= p(0)))
    assert(s5.size < fps.length)
  }

  test("crossmodalSurvivors emits exactly the docs passing all five gates") {
    val docs = Tables.documents(spark, sf)
    val got = Multimodal.crossmodalSurvivors(spark, docs)
      .collect().map(_.getLong(0)).toSet
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("MD5")
    case class Fp(id: Long, afp: Long, dh: Long, th: String)
    val fps = rows.map { case (id, text) =>
      md.reset()
      val th = md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      Fp(id, audioAfp(id), imageDhash(id), th)
    }.toSeq
    def exact(in: Seq[Fp], key: Fp => Any) = {
      val keep = in.groupBy(key).values.map(_.map(_.id).min).toSet
      in.filter(f => keep(f.id))
    }
    def near(in: Seq[Fp], fp: Fp => Long) =
      in.filter(s => !in.exists(t => t.id < s.id &&
        java.lang.Long.bitCount(fp(t) ^ fp(s)) <= 2))
    val s5 = exact(near(exact(near(exact(fps, _.afp), _.afp), _.dh), _.dh), _.th)
    assert(got == s5.map(_.id).toSet)
    assert(got.nonEmpty && got.size < rows.length)
  }

  test("fingerprint stage streams unchanged: batch == stream over micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 9L).map(i =>
      Doc(i, java.sql.Timestamp.valueOf(s"2024-01-01 10:0$i:00"), s"text body $i", "srcA"))
    val mem = MemoryStream[Doc]
    val q = Multimodal.crossmodalFingerprints(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("xmodal_fp_out").start()
    try {
      mem.addData(docs.take(4): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(4): _*)
      q.processAllAvailable()
      val got = spark.table("xmodal_fp_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val batch = Multimodal.crossmodalFingerprints(docs.toDF())
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(got == batch)
      assert(got.size == docs.size)
    } finally q.stop()
  }

  test("fingerprint persist is stable across calls; release unpins") {
    val docs = Tables.documents(spark, sf)
    val first = Multimodal.crossmodalDedupFunnel(spark, docs)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    // a second call reads the same fingerprint checkpoint; results must
    // be byte-identical either way
    val second = Multimodal.crossmodalDedupFunnel(spark, docs)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    assert(second == first)
    // the funnel reads the PlanCache checkpoint and pins nothing of its
    // own; imageNearDups pins its fingerprints through persistFingerprints
    Multimodal.imageNearDups(spark, docs).count()
    val pinned = graft.operators.PlanCache.pinnedFrames(spark, Multimodal)
    assert(pinned.nonEmpty)
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val ids = pinned.flatMap(df => cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)).toSet
    assert(ids.size == pinned.size)
    graft.operators.PlanCache.releasePins(spark, Multimodal)
    // unpersist is async (blocking = false): poll briefly for the drop
    def live = spark.sparkContext.getPersistentRDDs.keySet.intersect(ids)
    val deadline = System.nanoTime + 10_000_000_000L
    while (live.nonEmpty && System.nanoTime < deadline) Thread.sleep(50)
    assert(live.isEmpty)
  }

  test("incremental stream prefix == batch form of the same stages") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def doc(id: Long, text: String) =
      Doc(id, java.sql.Timestamp.valueOf(s"2024-01-01 10:${10 + id}:00"), text, "srcA")
    // corpus: ids 1..3; arrivals 10..15 (10 collides with corpus text 1,
    // 12 repeats arrival 11's doc — same synthetic payloads differ by id,
    // so modal fingerprints differ; text digests collide)
    val corpus = Seq(doc(1, "alpha beta"), doc(2, "gamma delta"), doc(3, "epsilon zeta"))
    val arrivals = Seq(
      doc(10, "alpha beta"), doc(11, "fresh one"), doc(12, "fresh one"),
      doc(13, "fresh two"), doc(14, "gamma delta"), doc(15, "fresh three"))
    val corpusFps = Multimodal.crossmodalFingerprints(corpus.toDF())
    val mem = MemoryStream[Doc]
    val q = graft.streaming.StreamingAgg
      .incrementalCrossmodalStream(mem.toDF(), corpusFps)
      .writeStream.outputMode("append").format("memory")
      .queryName("incr_xmodal_out").start()
    try {
      mem.addData(arrivals.take(3): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("incr_xmodal_out").collect()
        .map(r => r.getAs[Long]("doc_id")).toSet
      // batch form of the SAME streamable stages: three exact corpus
      // anti-joins + first-arrival (min doc_id) dedup on afp
      val arrFps = Multimodal.crossmodalFingerprints(arrivals.toDF())
      val s0 = arrFps
        .join(corpusFps.select(col("afp")).distinct(), Seq("afp"), "left_anti")
        .join(corpusFps.select(col("dhash")).distinct(), Seq("dhash"), "left_anti")
        .join(corpusFps.select(col("th")).distinct(), Seq("th"), "left_anti")
      val batch = s0.groupBy(col("afp")).agg(min(col("doc_id")).as("doc_id"))
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(got == batch, s"stream $got vs batch $batch")
      // text-digest collisions with the corpus must be gone
      assert(!got.contains(10L) && !got.contains(14L))
    } finally q.stop()
  }

  test("funnel plan: one conditional aggregate, no cartesian product") {
    val docs = Tables.documents(spark, sf)
    val plan = Multimodal.crossmodalDedupFunnel(spark, docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
