package graft

import graft.functions.Mix64
import graft.operators.{MultipleTesting, Randomization}
import org.apache.spark.sql.Row

/** The randomization kernel behind perm_test_ab and bh_fdr keeps one row
  * per (stratum, replicate): its plan is the same size for any replicate
  * count, the task binaries it ships stay small, its exceed counts equal
  * a direct recomputation, and the one-row A/B report keeps its shape on
  * empty input.
  */
class RandomizationKernelSpec extends SparkTestBase {
  import spark.implicits._

  test("permTestAb on empty input: one row, zero users, exceed 0, p = 1/65") {
    val rows = Randomization.permTestAb(Tables.events(spark, sf).limit(0))
      .collect().toSeq
    assert(rows == Seq(Row(0L, null, null, null, 64L, 0L, 1L, 65L)),
      rows.mkString("\n"))
  }

  test("perm_test_ab and bh_fdr ship no large task binary") {
    val ev = Tables.events(spark, sf)
    val (_, warns) = WarnCapture {
      Randomization.permTestAb(ev).collect()
      MultipleTesting.bhFdr(ev).collect()
    }
    val large = warns.filter(_.contains("Broadcasting large task binary"))
    assert(large.isEmpty, large.mkString("\n"))
  }

  test("exceedCounts: the analyzed plan is the same size for 8 and 64 seeds") {
    val units = Seq(("a", 1L, 10L), ("a", 2L, 0L), ("b", 3L, 7L))
      .toDF("k", "u", "x")
    def expressions(seeds: Seq[Long]): Int =
      Randomization.exceedCounts(units, Seq("k"), seeds)
        .queryExecution.analyzed
        .map(_.expressions.map(_.collect { case e => e }.size).sum).sum
    assert(expressions(Randomization.permSeeds.take(8)) ==
      expressions(Randomization.permSeeds))
  }

  test("exceedCounts equals a direct recomputation, negative users included") {
    val units = (-9L to 30L).map(u => (if (u % 3 == 0) "a" else "b", u,
      (u * u * 37) % 101 + (if (Math.floorMod(u, 2L) == 1L) 40 else 0)))
    val seeds = Randomization.permSeeds
    val got = Randomization
      .exceedCounts(units.toDF("k", "u", "x"), Seq("k"), seeds)
      .collect().map(r => r.getString(0) -> r.getLong(r.fieldIndex("exceed_cnt")))
      .toMap
    // |T| = |sA·nB − sB·nA| over nA·nB; the compare is cross-multiplied
    def absT(n: Long, sx: Long, na: Long, sa: Long): BigInt =
      (BigInt(sa) * (n - na) - BigInt(sx - sa) * na).abs
    val want = units.groupBy(_._1).map { case (k, us) =>
      val (n, sx) = (us.size.toLong, us.map(_._3).sum)
      def sums(arm: Long => Long): (Long, Long) =
        (us.map(t => arm(t._2)).sum, us.map(t => arm(t._2) * t._3).sum)
      val (na, sa) = sums(u => Math.floorMod(u, 2L))
      val ex = seeds.count { s =>
        val (nab, sab) = sums(u => Math.floorMod(Mix64.mix(Mix64.mix(u) ^ s), 2L))
        absT(n, sx, nab, sab) * (BigInt(na) * (n - na)) >=
          absT(n, sx, na, sa) * (BigInt(nab) * (n - nab))
      }
      k -> ex.toLong
    }
    assert(got == want)
    assert(want.values.exists(e => e > 0 && e < seeds.size), want)
  }
}
