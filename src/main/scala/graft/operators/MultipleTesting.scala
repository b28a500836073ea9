package graft.operators

import graft.functions.Mix64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Benjamini–Hochberg FDR control (Benjamini & Hochberg, JRSS-B 1995)
  * over a FAMILY of randomization tests — the multiple-testing layer an
  * experimentation platform needs once it runs one test per segment
  * instead of one test total.
  *
  * The family: one hypothesis per (event_type × day-part) stratum
  * (day-part = hour-of-day DIV 6, so m = |types|·4 strata), each testing
  * the odd-vs-even-user mean value contrast with the SAME Fisher
  * randomization machinery as [[Randomization.permTestAb]] — B = 64
  * label re-draws, cross-multiplied |T| comparison in DECIMAL(38,0), the
  * add-one Monte-Carlo p-value (exceed+1)/(B+1). One detail matters for
  * validity and is deliberate: replicate b's label for user u depends
  * ONLY on (u, seed_b), so a single re-randomization of the population
  * is reused across all m outcomes — the standard "same permutation
  * across endpoints" discipline that preserves the joint null.
  *
  * BH is then pure rank arithmetic on the exact p fractions, all of
  * which share the denominator B+1 = 65:
  *
  *   sort p(1) ≤ … ≤ p(m)  (ties broken by stratum key — a total order)
  *   k* = max{k : p(k) ≤ k·α/m},  α = 1/20
  *     ⇔ 20·num(k)·m ≤ 65·k            (exact integer comparison)
  *   reject H(k) for all k ≤ k*
  *   p_adj(k) = min_{j ≥ k} min(1, m·p(j)/j)   (step-up adjustment)
  *
  * p_adj is emitted as micros: each candidate is the exact floor
  * (m·num(j)·10⁶) DIV (j·65) capped at 10⁶, and the suffix-min runs over
  * those longs — min-of-floors, documented as the contract (both engines
  * spell it identically, so it is bit-exact; all operands non-negative,
  * so Spark DIV and DuckDB // agree).
  *
  * Scale: the unit reduction shuffles once on (type, daypart, user);
  * the replicate statistics come from [[Randomization.exceedCounts]],
  * one map-side-combined aggregate over one row per (stratum, replicate,
  * unit), so the plan is the same size for any B; the BH pass is windows
  * over the m-row stratum frame, bounded by the stratum catalog, never
  * by corpus rows.
  */
object MultipleTesting {

  /** Replicates per stratum test. p-value resolution = 1/(B+1). */
  val B = 64

  /** Per-replicate seeds — fixed splitmix64 points distinct from
    * [[Randomization.permSeeds]] (independent draw), emitted as literals
    * into the oracle.
    */
  def bhSeeds: Seq[Long] =
    (1 to B).map(b => Mix64.mix(0xB11771E5FD12L * b + 0x5EEDFACE7L))

  /** One row per stratum, ordered by BH rank: the exact p fraction, the
    * step-up pass/reject flags and the adjusted p in micros.
    */
  def bhFdr(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val units = events
      .select(col("event_type"), expr("hour(ts) DIV 6").as("daypart"),
        col("user_id").as("u"), cents.as("c"))
      .groupBy(col("event_type"), col("daypart"), col("u"))
      .agg(sum(col("c")).as("x"))
    val tested = Randomization
      .exceedCounts(units, Seq("event_type", "daypart"), bhSeeds)
      .select(col("event_type"), col("daypart"),
        col("n").as("n_users"), col("na").as("n_a"),
        (col("n") - col("na")).as("n_b"),
        col("exceed_cnt"),
        (col("exceed_cnt") + 1L).as("p_num"),
        lit(B + 1L).as("p_den"))

    // BH over the m-row stratum frame: the single-partition windows are
    // bounded by the stratum catalog (|types|·4), never by corpus rows.
    val byP = Window.orderBy(col("p_num"), col("event_type"), col("daypart"))
    val all = Window.partitionBy()
    val ranked = tested
      .withColumn("k_rank", row_number().over(byP).cast("long"))
      .withColumn("m_tests", count(lit(1)).over(all))
      .withColumn("bh_pass",
        lit(20L) * col("p_num") * col("m_tests") <=
          lit(65L) * col("k_rank"))
      .withColumn("kstar",
        max(when(col("bh_pass"), col("k_rank")).otherwise(0L)).over(all))
      .withColumn("rejected", col("k_rank") <= col("kstar"))
      .withColumn("padj_raw",
        least(lit(1000000L),
          expr("(m_tests * p_num * 1000000) DIV (k_rank * 65)")))
      .withColumn("p_adj_micros",
        min(col("padj_raw")).over(
          Window.orderBy(col("k_rank"))
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    ranked
      .select(col("k_rank"), col("event_type"), col("daypart"),
        col("n_users"), col("n_a"), col("n_b"), col("exceed_cnt"),
        col("p_num"), col("p_den"), col("m_tests"), col("bh_pass"),
        col("rejected"), col("p_adj_micros"))
      .orderBy(col("k_rank"))
  }

  /** DuckDB replay: per-stratum unit frame,
    * [[Randomization.exceedCountsOracleCtes]] keyed by stratum with the
    * same seed literals, then the identical window spelling of the
    * step-up pass.
    */
  def bhFdrOracleSql: String =
    s"""WITH units AS (
  SELECT event_type, hour(ts) // 6 AS daypart, user_id AS u,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                       AS DECIMAL(18,0))) AS BIGINT) AS x
  FROM events GROUP BY 1, 2, 3),
${Randomization.exceedCountsOracleCtes(Seq("event_type", "daypart"), bhSeeds)},
tested AS (SELECT o.event_type, o.daypart,
  CAST(o.n AS BIGINT) AS n_users,
  CAST(o.na AS BIGINT) AS n_a,
  CAST(o.n - o.na AS BIGINT) AS n_b,
  CAST(e.exc AS BIGINT) AS exceed_cnt,
  CAST(e.exc + 1 AS BIGINT) AS p_num,
  CAST(${B + 1} AS BIGINT) AS p_den
  FROM obs o JOIN (SELECT event_type, daypart, sum(ex) AS exc
                   FROM cmp GROUP BY 1, 2) e
    ON o.event_type = e.event_type AND o.daypart = e.daypart),
ranked AS (SELECT *,
  CAST(row_number() OVER (ORDER BY p_num, event_type, daypart)
    AS BIGINT) AS k_rank,
  CAST(count(*) OVER () AS BIGINT) AS m_tests
  FROM tested),
flagged AS (SELECT *,
  (20 * p_num * m_tests <= 65 * k_rank) AS bh_pass,
  least(1000000, (m_tests * p_num * 1000000) // (k_rank * 65))
    AS padj_raw
  FROM ranked),
fin AS (SELECT *,
  CAST(max(CASE WHEN bh_pass THEN k_rank ELSE 0 END) OVER ()
    AS BIGINT) AS kstar,
  CAST(min(padj_raw) OVER (ORDER BY k_rank
    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    AS BIGINT) AS p_adj_micros
  FROM flagged)
SELECT k_rank, event_type, daypart, n_users, n_a, n_b, exceed_cnt,
  p_num, p_den, m_tests, bh_pass, (k_rank <= kstar) AS rejected,
  p_adj_micros
FROM fin ORDER BY k_rank"""
}
