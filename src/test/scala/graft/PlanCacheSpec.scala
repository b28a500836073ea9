package graft

import graft.operators.{FitMemo, FitPins, PlanCache}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The session-cache module: the checkpoint cache, the fit memo, the
  * fit-pin registry and the frame pin registry, each exercised directly
  * rather than through an operator.
  */
class PlanCacheSpec extends SparkTestBase {
  import spark.implicits._

  /** A file-backed corpus (cacheable key) in a fresh directory. */
  private def withCorpus(body: DataFrame => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_plancache").toString
    try {
      Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir)
      body(spark.read.parquet(dir))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd }

  test("getOrBuild: a repeat call returns the same checkpointed instance") {
    withCorpus { corpus =>
      val cache = new PlanCache[Int]()
      var builds = 0
      def build(k: Int) = cache.getOrBuild(corpus, k) {
        builds += 1; corpus.filter($"doc_id" > k)
      }
      val first = build(0)
      assert(build(0) eq first)
      assert(builds == 1)
      assert(checkpointRdds(first).nonEmpty, "entries are localCheckpoint'ed")
      assert(!(build(1) eq first), "a different parameter key is a miss")
      assert(builds == 2)
    }
  }

  test("getOrBuild: LocalRelation and streaming inputs bypass the cache") {
    val cache = new PlanCache[Unit]()
    val local = Seq((1L, "x")).toDF("doc_id", "text")
    var builds = 0
    val a = cache.getOrBuild(local, ()) { builds += 1; local }
    val b = cache.getOrBuild(local, ()) { builds += 1; local }
    assert(builds == 2 && (a eq local) && (b eq local))
    assert(PlanCache.planKey(local).isEmpty)

    val stream = spark.readStream.format("rate").load()
    assert(PlanCache.planKey(stream).isEmpty)
    // a streaming frame cannot be localCheckpoint'ed: reaching the cache
    // would throw, so returning the computed frame proves the bypass
    assert(cache.getOrBuild(stream, ())(stream) eq stream)
  }

  test("getOrBuild: the 5th key evicts and unpersists the earlier checkpoints") {
    withCorpus { corpus =>
      val cache = new PlanCache[Int]()
      val early = (1 to PlanCache.Bound).map(k =>
        cache.getOrBuild(corpus, k)(corpus.filter($"doc_id" > k)))
      val earlyRdds = early.flatMap(checkpointRdds)
      assert(earlyRdds.size == PlanCache.Bound)
      earlyRdds.foreach(r => assert(r.getStorageLevel != StorageLevel.NONE))
      val fifth = cache.getOrBuild(corpus, 5)(corpus.filter($"doc_id" > 5))
      earlyRdds.foreach(r => assert(r.getStorageLevel == StorageLevel.NONE,
        s"evicted checkpoint RDD ${r.id} still persisted"))
      checkpointRdds(fifth).foreach(r => assert(r.getStorageLevel != StorageLevel.NONE))
      // evicted wholesale: the first key is a miss again
      assert(!(cache.getOrBuild(corpus, 1)(corpus) eq early.head))
    }
  }

  test("FitMemo: never stores a LocalRelation fit; file-backed fits are reused") {
    val memo = new FitMemo[Int, Array[Long]](32)
    val local = Seq((1L, "x")).toDF("doc_id", "text")
    var fits = 0
    def fit(df: DataFrame) = memo.getOrFit(df, 7) { fits += 1; Array(fits.toLong) }
    fit(local); fit(local)
    assert(fits == 2)
    memo.put(local, 7, Array(42L))
    assert(memo.get(local, 7).isEmpty)
    withCorpus { corpus =>
      val first = fit(corpus)
      assert(fit(corpus) eq first)
      assert(fits == 3)
      assert(memo.get(corpus, 7).exists(_ eq first))
      assert(memo.get(corpus, 8).isEmpty, "parameters are part of the key")
    }
  }

  test("FitPins: keyed by dataset and params; a different dataset or params misses") {
    val pins = new FitPins[(Int, Long), String]
    withCorpus { a =>
      pins.record(a, (16, 42L), "a")
      assert(pins.get(a, (16, 42L)).contains("a"))
      assert(pins.get(a, (8, 42L)).isEmpty, "parameters are part of the key")
      assert(pins.get(a, (16, 7L)).isEmpty, "parameters are part of the key")
      withCorpus { b =>
        assert(pins.get(b, (16, 42L)).isEmpty, "another file-backed dataset hit")
        pins.record(b, (16, 42L), "b")
        assert(pins.get(b, (16, 42L)).contains("b"))
        assert(pins.get(a, (16, 42L)).contains("a"))
      }
    }
  }

  test("FitPins: same-schema LocalRelations share a key, the last record wins") {
    val pins = new FitPins[Int, String]
    val one = Seq((1L, "x")).toDF("doc_id", "text")
    val two = Seq((2L, "y"), (3L, "z")).toDF("doc_id", "text")
    pins.record(one, 7, "one")
    assert(pins.get(two, 7).contains("one"))
    pins.record(two, 7, "two")
    assert(pins.get(one, 7).contains("two"))
    assert(pins.get(Seq(1L).toDF("doc_id"), 7).isEmpty, "another schema is another key")
  }

  test("FitPins: sole is defined only while exactly one entry exists") {
    val pins = new FitPins[Int, String]
    val local = Seq((1L, "x")).toDF("doc_id", "text")
    assert(pins.sole.isEmpty)
    pins.record(local, 1, "first")
    assert(pins.sole.contains("first"))
    pins.record(local, 1, "again")
    assert(pins.sole.contains("again"), "a repeat record replaces the one entry")
    pins.record(local, 2, "second")
    assert(pins.sole.isEmpty)
  }

  test("FitPins: the 18th record clears the 17 held entries first") {
    val pins = new FitPins[Int, Int]
    val local = Seq((1L, "x")).toDF("doc_id", "text")
    (1 to 17).foreach(i => pins.record(local, i, i))
    assert((1 to 17).forall(i => pins.get(local, i).contains(i)), "17 entries are held")
    pins.record(local, 18, 18)
    assert((1 to 17).forall(i => pins.get(local, i).isEmpty))
    assert(pins.get(local, 18).contains(18))
    assert(pins.sole.contains(18))
  }

  test("withoutAqe: AQE is off inside the body and restored after, also on a throw") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key, "true")
    try {
      for (prev <- Seq("true", "false")) {
        spark.conf.set(key, prev)
        assert(PlanCache.withoutAqe(spark)(spark.conf.get(key)) == "false")
        assert(spark.conf.get(key) == prev)
        intercept[IllegalStateException](
          PlanCache.withoutAqe(spark)(throw new IllegalStateException("body")))
        assert(spark.conf.get(key) == prev)
      }
    } finally spark.conf.set(key, before)
  }

  test("pins: replace unpins the previous frames, add accumulates, release is per owner") {
    val (ownerA, ownerB) = (new Object, new Object)
    def frame(i: Int) = Seq((i.toLong, s"t$i")).toDF("doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      PlanCache.addPins(spark, ownerA, frame(1))
      PlanCache.addPins(spark, ownerA, frame(2))
      val added = PlanCache.pinnedFrames(spark, ownerA)
      assert(added.size == 2, "add accumulates")

      val replaced = PlanCache.replacePins(spark, ownerA)(Seq(frame(3), frame(4)))
      assert(PlanCache.pinnedFrames(spark, ownerA).toSet == replaced.toSet)
      added.foreach(f => assert(f.storageLevel == StorageLevel.NONE,
        "replace left a previous frame cached"))
      replaced.foreach(f => assert(f.storageLevel != StorageLevel.NONE))

      // the previous pin is released BEFORE the new one is persisted, so a
      // same-plan replacement keeps its own cache entry
      val again = PlanCache.replacePins(spark, ownerA)(Seq(frame(3))).head
      assert(again.storageLevel != StorageLevel.NONE)

      val b = frame(5)
      PlanCache.addPins(spark, ownerB, b)
      PlanCache.releasePins(spark, ownerA)
      assert(PlanCache.pinnedFrames(spark, ownerA).isEmpty)
      assert(again.storageLevel == StorageLevel.NONE)
      assert(PlanCache.pinnedFrames(spark, ownerB) == List(b))
      assert(b.storageLevel != StorageLevel.NONE,
        "releasing one owner unpinned another owner's frame")
      PlanCache.releasePins(spark, ownerA) // idempotent
    } finally {
      PlanCache.releasePins(spark, ownerA)
      PlanCache.releasePins(spark, ownerB)
    }
  }
}
