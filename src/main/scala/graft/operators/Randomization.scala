package graft.operators

import graft.functions.Mix64
import graft.functions.GraftColumns.mix64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fisher randomization inference for the A/B revenue contrast
  * (Fisher 1935; modern treatment: Imbens & Rubin 2015, ch. 5): instead
  * of a parametric null, the treatment labels are re-drawn B times under
  * the null of no effect and the observed mean difference is ranked
  * against the replicated differences. The Bernoulli(½) re-draw makes
  * this the RANDOMIZATION-test variant (labels re-flipped per unit, the
  * same mechanism `user_id % 2` plausibly came from) rather than the
  * finite-population permutation that preserves group sizes exactly —
  * the p-value is `(1 + #{|T_b| ≥ |T_obs|}) / (B + 1)`, the standard
  * add-one Monte-Carlo estimator (Davison & Hinkley 1997, eq. 4.12).
  *
  * Everything is exact integer arithmetic, bit-identical across engines:
  *  - per-user revenue in cents (the DECIMAL(18,2)·100 contract);
  *  - replicate b's label for user u = low bit of
  *    mix64(mix64(u) XOR seed_b) — the same public splitmix64 finalizer
  *    chain the bootstrap/minhash oracles replay in DuckDB;
  *  - the mean difference is compared CROSS-MULTIPLIED:
  *    |T_b| = |sA_b·nB_b − sB_b·nA_b| lives over denominator nA_b·nB_b,
  *    so `|T_b| ≥ |T_obs|` becomes
  *    |sA_b·nB_b − sB_b·nA_b| · (nA·nB) ≥ |sA·nB − sB·nA| · (nA_b·nB_b)
  *    in DECIMAL(38,0) / HUGEINT — no division anywhere, so no
  *    floor-vs-truncate hazard and no float.
  *
  * Scale: ONE full scan — the per-user reduction shuffles on user_id
  * once; [[exceedCounts]] then gives every unit one row per replicate
  * and sums them in one aggregate grouped by replicate. The plan is the
  * same size for any B; the rows entering that aggregate grow by B, and
  * its map-side combine leaves B rows per partition and stratum.
  */
object Randomization {

  /** Replicate count. p-value resolution = 1/(B+1). */
  val B = 64

  /** Per-replicate seeds — fixed splitmix64 points, single-sourced for
    * both engines (emitted as literals into the oracle SQL).
    */
  def permSeeds: Seq[Long] =
    (1 to B).map(b => Mix64.mix(0x9E37F1A7C15DA7L * b + 0xF15AE12345L))

  private val d38 = DecimalType(38, 0)

  // |sA·nB − sB·nA| as DECIMAL(38,0), with nB = n − nA, sB = sx − sA
  private def absT(na: Column, sa: Column): Column = {
    val nb = (col("n") - na).cast(d38)
    val sb = (col("sx") - sa).cast(d38)
    abs(sa.cast(d38) * nb - sb * na.cast(d38))
  }

  private def pairProd(na: Column): Column =
    na.cast(d38) * (col("n") - na).cast(d38)

  /** The randomization test shared by [[permTestAb]] and
    * [[MultipleTesting.bhFdr]]. `units` holds `(keys…, u, x)`: one row
    * per unit u of a stratum, with outcome x. Each unit is repeated once
    * per seed (`posexplode` of one array literal), and ONE aggregate
    * grouped by (keys, b) sums the observed arm (A = odd u) and replicate
    * b's arm (low bit of mix64(mix64(u) XOR seed_b)), so every (keys, b)
    * row carries its stratum's observed sums next to the replicate's and
    * no join is needed. A second aggregate counts, per stratum, the
    * replicates whose |T_b| reaches |T_obs|.
    *
    * Output: `keys…, n, sx, na, sa, exceed_cnt`. With `keys = Nil` it is
    * one row even on empty input: n = 0, exceed_cnt = 0, the sums NULL.
    */
  private[graft] def exceedCounts(
      units: DataFrame, keys: Seq[String], seeds: Seq[Long]): DataFrame = {
    val obsBit = pmod(col("u"), lit(2L))
    val bit = pmod(mix64(mix64(col("u")).bitwiseXOR(col("seed"))), lit(2L))
    val replicates = units
      .select(keys.map(col) ++ Seq(col("u"), col("x"),
        posexplode(typedLit(seeds.toArray)).as(Seq("b", "seed"))): _*)
      .groupBy((keys :+ "b").map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(obsBit).as("na"), sum(obsBit * col("x")).as("sa"),
        sum(bit).as("nab"), sum(bit * col("x")).as("sab"))
    val exceeds =
      when(absT(col("nab"), col("sab")) * pairProd(col("na"))
        >= absT(col("na"), col("sa")) * pairProd(col("nab")), 1L)
        .otherwise(0L)
    replicates
      .groupBy(keys.map(col): _*)
      .agg(coalesce(max(col("n")), lit(0L)).as("n"), max(col("sx")).as("sx"),
        max(col("na")).as("na"), max(col("sa")).as("sa"),
        coalesce(sum(exceeds), lit(0L)).as("exceed_cnt"))
  }

  /** One-row report: group sizes, the observed cross-multiplied
    * statistic, the exceed count and the add-one p-value as an exact
    * fraction (`p_num`/`p_den`).
    */
  def permTestAb(events: DataFrame): DataFrame = {
    val cents = graft.queries.Analytics
      .centsOf(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0.0)))
      .cast("long")
    // unit frame: EVERY observed user (assignment must not depend on
    // outcome), x = total purchase cents (0 for non-purchasers)
    val units = events
      .groupBy(col("user_id").as("u"))
      .agg(sum(cents).as("x"))
    exceedCounts(units, Nil, permSeeds)
      .select(
        col("n").as("n_users"),
        col("na").as("n_a"),
        (col("n") - col("na")).as("n_b"),
        absT(col("na"), col("sa")).cast("long").as("abs_t_obs_num"),
        lit(B.toLong).as("replicates"),
        col("exceed_cnt"),
        (col("exceed_cnt") + 1L).as("p_num"),
        lit(B + 1L).as("p_den"))
  }

  /** DuckDB replay of [[exceedCounts]] as the CTEs `sd` … `cmp`, over a
    * `units` CTE holding `(keys…, u, x)`: the same seeds as literals, the
    * shared HUGEINT splitmix64 chain (SketchOracles.mixChain conventions),
    * the observed arm as a non-negative `u mod 2`, and the cross-multiplied
    * compare, one `ex` flag per (keys, b) row of `cmp` — bit-exact by
    * construction.
    */
  private[graft] def exceedCountsOracleCtes(
      keys: Seq[String], seeds: Seq[Long]): String = {
    import graft.SketchOracles.{mixChain, U64 => u64}
    val golden = "11400714819323198485::HUGEINT"
    val seedRows = seeds.zipWithIndex
      .map { case (s, b) =>
        val us = (BigInt(s) & ((BigInt(1) << 64) - 1)).toString
        s"    ($b, $us::HUGEINT)"
      }.mkString(",\n")
    val k = keys.map(_ + ", ").mkString
    val groupKeys = if (keys.isEmpty) "" else keys.mkString(" GROUP BY ", ", ", "")
    val on = if (keys.isEmpty) "TRUE"
      else keys.map(c => s"r.$c = o.$c").mkString(" AND ")
    val arm = "((u % 2) + 2) % 2"
    s"""sd(b, su) AS (VALUES
$seedRows),
u1 AS (SELECT ${k}u, x,
  ((CASE WHEN u < 0 THEN CAST(u AS HUGEINT) + $u64
         ELSE CAST(u AS HUGEINT) END) + $golden) % $u64 AS z0 FROM units),
${mixChain("k1", "u1", keys ++ Seq("u", "x"), "z0")},
x1 AS (SELECT ${k}x, b, (xor(mx, su) + $golden) % $u64 AS z0 FROM k14, sd),
${mixChain("b1", "x1", keys ++ Seq("x", "b"), "z0")},
bits AS (SELECT ${k}x, b, CAST(mx % 2 AS BIGINT) AS bit FROM b14),
obs AS (SELECT ${k}count(*) AS n, sum(x) AS sx,
  sum($arm) AS na, sum(($arm) * x) AS sa FROM units$groupKeys),
reps AS (SELECT ${k}b, sum(bit) AS nab, sum(bit * x) AS sab
  FROM bits GROUP BY ${k}b),
cmp AS (SELECT ${keys.map(c => s"r.$c, ").mkString}CASE
  WHEN ${absTSql("r.nab", "r.sab")} * ${pairProdSql("o.na")}
    >= ${absTSql("o.na", "o.sa")} * ${pairProdSql("r.nab")}
  THEN 1 ELSE 0 END AS ex
  FROM reps r JOIN obs o ON $on)"""
  }

  /** [[absT]] in DuckDB over the `obs o` row's n and sx. */
  private def absTSql(na: String, sa: String): String =
    s"abs(CAST($sa AS HUGEINT) * (o.n - $na) - CAST(o.sx - $sa AS HUGEINT) * $na)"

  private def pairProdSql(na: String): String =
    s"(CAST($na AS HUGEINT) * (o.n - $na))"

  /** DuckDB replay: the per-user unit frame, [[exceedCountsOracleCtes]]
    * with no keys, and the one-row report.
    */
  def permTestAbOracleSql: String =
    s"""WITH units AS (
  SELECT user_id AS u,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS DECIMAL(18,0))
                       ELSE 0 END) AS BIGINT) AS x
  FROM events GROUP BY user_id),
${exceedCountsOracleCtes(Nil, permSeeds)}
SELECT o.n AS n_users,
  CAST(o.na AS BIGINT) AS n_a,
  CAST(o.n - o.na AS BIGINT) AS n_b,
  CAST(${absTSql("o.na", "o.sa")} AS BIGINT) AS abs_t_obs_num,
  CAST($B AS BIGINT) AS replicates,
  CAST((SELECT sum(ex) FROM cmp) AS BIGINT) AS exceed_cnt,
  CAST((SELECT sum(ex) FROM cmp) + 1 AS BIGINT) AS p_num,
  CAST(${B + 1} AS BIGINT) AS p_den
FROM obs o"""
}
