package graft

import graft.operators.{PlanCache, SuffixArray}
import org.apache.spark.sql.functions._

class SuffixArraySpec extends SparkTestBase {
  import spark.implicits._

  /** Brute force: every (doc, pos) suffix string, sorted; dense rank. */
  private def bruteSuffixes(docs: Seq[(Long, String)]): Seq[(String, Long, Long)] =
    (for {
      (id, t) <- docs
      p <- 1 to t.length
    } yield (t.substring(p - 1), id, p.toLong)).sortBy(x => (x._1, x._2, x._3))

  private val docs = Seq(
    (1L, "banana"),
    (2L, "bandana"),
    (3L, "ananas"),
    (4L, "xyz"),
    (5L, "banana")) // exact duplicate of doc 1

  test("suffix array head matches brute-force dense-ranked suffix order") {
    val df = docs.toDF("doc_id", "text")
    val got = SuffixArray.suffixArrayHead(df, k = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = bruteSuffixes(docs)
    // dense ranks from the sorted distinct strings
    val rankOf = brute.map(_._1).distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1L) }.toMap
    val expected = brute.map { case (s, d, p) => (rankOf(s), d, p) }
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
  }

  test("longest repeated substring: exact length, membership count, witness") {
    val df = docs.toDF("doc_id", "text")
    val row = SuffixArray.longestRepeatedSubstring(df).collect().head
    // "banana" appears twice verbatim (docs 1 and 5): LRS = 6
    assert(row.getLong(0) == 6L, s"lrs_len ${row.getLong(0)}")
    // suffixes of length >= 6 sharing their 6-prefix: exactly the two
    // full "banana" suffixes (doc 1 pos 1, doc 5 pos 1); "bandana" has
    // no 6-char twin
    assert(row.getLong(1) == 2L)
    assert(row.getLong(2) == 1L && row.getLong(3) == 1L)
  }

  test("lrs on repeat-free-beyond-1 corpus stays at a single character") {
    val df = Seq((1L, "abc"), (2L, "dea")).toDF("doc_id", "text")
    val row = SuffixArray.longestRepeatedSubstring(df).collect().head
    // only 'a' repeats; lrs = 1, members = the two 'a'-suffixes with
    // rem >= 1 ... both standalone 'a' positions qualify
    assert(row.getLong(0) == 1L)
    assert(row.getLong(1) == 2L)
    assert(row.getLong(2) == 1L && row.getLong(3) == 1L)
  }

  test("internal repeat inside one document is found (no cross-doc needed)") {
    val df = Seq((7L, "abcabcabd")).toDF("doc_id", "text")
    val row = SuffixArray.longestRepeatedSubstring(df).collect().head
    // "abcab" at pos 1 and pos 4 share 5 chars ("abcab"): lrs = 5
    assert(row.getLong(0) == 5L, s"lrs_len ${row.getLong(0)}")
    assert(row.getLong(2) == 7L && row.getLong(3) == 1L)
  }

  test("Ranks cache: one build serves repeat and stop-bounded requests; upgrades replace") {
    // LocalRelations bypass the cache by design (canonicalization prints
    // only their schema), so round-trip the fixture through parquet
    val dir = java.nio.file.Files.createTempDirectory("graft_sacache").toString
    try {
      Seq((1L, "abcabcabd" * 4), (2L, "zq" + "abcabcabd" * 4))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      val full = SuffixArray.build(df)
      // identical request: the SAME Ranks instance comes back
      assert(SuffixArray.build(df) eq full)
      // shallower stop-bounded request: satisfied by the full build
      assert(SuffixArray.build(df, stopBlock = 8L) eq full)
      // a different reader plan of the same path is a different key —
      // the cache must not serve across plans it cannot prove equal
      val df2 = spark.read.parquet(dir).filter(col("doc_id") >= 1L)
      val other = SuffixArray.build(df2)
      assert(!(other eq full))
      // upgrade path: a stop-bounded build whose chain was CUT by the
      // stop (dup still present at the last block) must NOT serve a
      // deeper request — the deeper build replaces it
      val dir2 = java.nio.file.Files.createTempDirectory("graft_sacache2").toString
      try {
        // 64+ char docs sharing a long repeat so dupAtLast holds at 8
        Seq((1L, "abcdefgh" * 12), (2L, "abcdefgh" * 12 + "x"))
          .toDF("doc_id", "text").write.mode("overwrite").parquet(dir2)
        val d3 = spark.read.parquet(dir2)
        val shallow = SuffixArray.build(d3, stopBlock = 8L)
        assert(shallow.blocks.last == 8L && shallow.dupAtLast)
        val deep = SuffixArray.build(d3)
        assert(!(deep eq shallow) && deep.blocks.last > 8L)
        // the deep build RESUMED from the shallow chain: its prefix
        // levels are the same frames, not rebuilt (and therefore must
        // not have been freed by the cache replacement)
        assert(deep.levels.head eq shallow.levels.head)
        assert(deep.levels.head.count() > 0)
        // and the replacement now serves shallow requests
        assert(SuffixArray.build(d3, stopBlock = 8L) eq deep)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("fit/cluster cache keys distinguish same-schema file datasets") {
    // the Spark-4 logical plan of a fresh parquet read elides the path
    // ("UnresolvedDataSource ... paths: 1 provided"), so plan-string keys
    // alone collide across datasets — inputFiles must split them
    val d1 = java.nio.file.Files.createTempDirectory("graft_key1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_key2").toString
    try {
      Seq((1L, "aaa")).toDF("doc_id", "text").write.mode("overwrite").parquet(d1)
      Seq((2L, "bbb")).toDF("doc_id", "text").write.mode("overwrite").parquet(d2)
      val a = spark.read.parquet(d1)
      val b = spark.read.parquet(d2)
      assert(PlanCache.planKey(a) != PlanCache.planKey(b))
      val ka = PlanCache.planKey(a)
      val kb = PlanCache.planKey(b)
      assert(ka.isDefined && kb.isDefined && ka != kb)
      // the regenerated-corpus cache rides the same key: same frame hits,
      // different dataset misses
      val ra = graft.operators.Curation.regenCorpus(a)
      assert(graft.operators.Curation.regenCorpus(a) eq ra)
      assert(!(graft.operators.Curation.regenCorpus(b) eq ra))
      // in-memory frames stay uncacheable for the fit caches
      assert(PlanCache.planKey(Seq((1L, "x")).toDF("doc_id", "text")).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d1))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d2))
    }
  }

  /** Brute-force LRS: (lrs_len, n_suffixes, witness_doc, witness_pos) —
    * max adjacent LCP over the sorted suffixes, then the >=2 groups at
    * that prefix length (the oracle's formulation, in Scala).
    */
  private def bruteLrs(docs: Seq[(Long, String)]): (Long, Long, Long, Long) = {
    val sfx = for { (id, t) <- docs; p <- 1 to t.length }
      yield (t.substring(p - 1), id, p.toLong)
    val sorted = sfx.sortBy(_._1)
    def lcp(a: String, b: String): Int =
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    val l = sorted.sliding(2).collect { case Seq(a, b) => lcp(a._1, b._1) }.max
    val members = sfx.filter(_._1.length >= l)
      .groupBy(_._1.substring(0, l)).filter(_._2.size >= 2).values.flatten.toSeq
    val w = members.map(m => (m._2, m._3)).min
    (l.toLong, members.size.toLong, w._1, w._2)
  }

  private def assertLrs(docs: Seq[(Long, String)]): Unit = {
    val row = SuffixArray.longestRepeatedSubstring(docs.toDF("doc_id", "text"))
      .collect().head
    val exp = bruteLrs(docs)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) == exp,
      s"got ${row.mkString(",")} expected $exp")
  }

  test("packAscii: numeric order == binary string order, equality exact") {
    val rnd = new scala.util.Random(42)
    val strs = (0 until 400).map { _ =>
      val len = rnd.nextInt(11)
      new String(Array.fill(len)((1 + rnd.nextInt(127)).toChar))
    } ++ Seq("", "a", "ab", "abcdefgh", "abcdefghX", "abcdefg", "aaaaaaaa")
    import org.apache.spark.unsafe.types.UTF8String
    def pack(s: String) =
      graft.functions.PackAscii.pack(UTF8String.fromString(s))
    for (a <- strs; b <- strs) {
      // pack sees only the first 8 chars — compare on the truncation
      val (ta, tb) = (a.take(8), b.take(8))
      assert(java.lang.Long.compare(pack(a), pack(b)).sign ==
        UTF8String.fromString(ta).compareTo(UTF8String.fromString(tb)).sign,
        s"order mismatch: '$ta' vs '$tb'")
      assert((pack(a) == pack(b)) == (ta == tb), s"equality mismatch: '$ta' '$tb'")
    }
  }

  test("asciiCommonPrefixLen matches the character zip reference") {
    val rnd = new scala.util.Random(7)
    val strs = (0 until 60).map { _ =>
      val len = rnd.nextInt(12)
      new String(Array.fill(len)(('a' + rnd.nextInt(4)).toChar))
    } :+ ""
    val pairs = for (a <- strs; b <- strs) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(graft.functions.GraftColumns
        .asciiCommonPrefixLen(col("a"), col("b")))
      .collect().map(_.getLong(0))
    val exp = pairs.map { case (a, b) =>
      a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong }
    assert(got.toSeq == exp.toSeq)
  }

  test("lrs fast path, dupAtLast branch: long repeat up to the maxLen stop") {
    // 110-char planted repeat in 120-char docs: chain 8..64 stops on
    // maxLen with duplicates still present at 64 (candidates from the
    // LAST level)
    val rep = "qwertyuiopasdfghjklzxcvbnm" * 5 // 130 chars
    val docs = Seq(
      (1L, "head1" + rep.take(110) + "tail1"),
      (2L, "abcz2" + rep.take(110) + "wxyz9"),
      (3L, "completely unrelated filler text with no long repeats at all"))
    assertLrs(docs)
  }

  test("lrs fast path, second-to-last branch: repeat dies before the last block") {
    // LRS = 100 inside ~300-char docs: the chain reaches 128, finds no
    // duplicate there (100 < 128), and the candidates come from level 64
    val rnd = new scala.util.Random(3)
    def filler(n: Int) = new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    val rep = filler(100)
    val docs = Seq(
      (1L, filler(90) + rep + filler(110)),
      (2L, filler(95) + rep + filler(105)),
      (3L, filler(300)))
    assertLrs(docs)
  }

  test("non-ASCII corpus falls back to the string-rank path, same answer") {
    val rep = "0123456789abcdefghij" * 3 // 60-char repeat
    val docs = Seq(
      (1L, "début-" + rep + "-fin"), // 'é' defeats the ASCII guard
      (2L, "start-" + rep + "-end"))
    val df = docs.toDF("doc_id", "text")
    val ranks = SuffixArray.build(df)
    assert(!ranks.asciiBase)
    assertLrs(docs)
  }

  test("head with small k on the packed (non-dense) base rank") {
    val df = docs.toDF("doc_id", "text")
    val got = SuffixArray.suffixArrayHead(df, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = bruteSuffixes(docs)
    val rankOf = brute.map(_._1).distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1L) }.toMap
    val expected = brute.map { case (s, d, p) => (rankOf(s), d, p) }.take(5)
    assert(got.toSeq == expected)
  }

  test("harness documents: head ranks are positive, ordered, dense-consistent") {
    val df = Tables.documents(spark, sf)
    val got = SuffixArray.suffixArrayHead(df, k = 50).collect()
    assert(got.length == 50)
    val ranks = got.map(_.getLong(0))
    assert(ranks.head >= 1L)
    assert(ranks.sameElements(ranks.sorted))
    // head of the suffix order must start at rank 1
    assert(ranks.head == 1L)
  }
}
