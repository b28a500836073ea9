package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ranking WITHOUT a single-partition window — the classic
  * distributed total-order pattern:
  *
  *   1. `repartitionByRange` on the sort key: partition i's rows all sort
  *      before partition i+1's (contiguous ranges). The frame is
  *      persist(MEMORY_AND_DISK)-ed — NOT localCheckpoint-ed: persisted
  *      blocks keep their lineage, so an executor lost between the
  *      counting job and the window job triggers recompute instead of an
  *      irrecoverable missing-block failure, and the recompute lands in
  *      the SAME layout because RangePartitioner's boundary sampling is
  *      seeded deterministically (XORShiftRandom(byteswap32(idx))) over a
  *      deterministic input plan (repo-wide determinism policy).
  *   2. per-partition row counts -> prefix-sum offsets. This is the ONLY
  *      driver-side data: numPartitions longs — bounded by cluster width,
  *      never by row count.
  *   3. a LOCAL window per partition (Window.partitionBy(partition id)) —
  *      every partition sorts and ranks in parallel; global rank =
  *      partition offset + local row_number.
  *
  * A plain `Window.orderBy(...)` (no partitionBy) computes the same thing
  * by moving EVERY row through one task — fine at thousands of rows,
  * a guaranteed straggler at billions. AnalyticsSpec asserts row-identical
  * results vs the single-window formulation (including n < k, n == 1 and
  * empty frames) and that no SinglePartition exchange appears in the
  * finalized adaptive plan.
  *
  * Requires `sortCols` to be a TOTAL order (append a unique tiebreaker);
  * with ties across a range boundary the global rank would depend on the
  * partitioner's cut point.
  *
  * Cache lifecycle: every persisted ranged frame is tracked per session
  * and stays PINNED until [[release]] — callers that rank repeatedly
  * must call release() when done with the results (see [[release]] for
  * why auto-evicting the previous frame is unsound).
  */
object DistributedRank {

  /** Each ranking call persists a fresh range-partitioned frame and pins
    * it in the [[PlanCache]] registry beside the session's earlier ones;
    * [[release]] returns the blocks when the caller is done ranking (e.g.
    * at the end of a service request).
    *
    * Every live frame stays pinned until release() — an earlier policy
    * kept only the LATEST frame and unpersisted the previous one on each
    * new call, on the theory that eviction just recomputes the same
    * deterministic layout. That theory is FALSE: the rank offsets are
    * captured from the per-partition counts of the frame's FIRST
    * materialization, and a recompute's range boundaries (sampled at job
    * time) need not reproduce that layout — chained rankings (e.g. the
    * RFM triple-quintile) then emit offset+row_number ranks beyond n
    * (observed as ntile(5) producing tile 6 at sf0.1). Correctness
    * requires the pin for as long as any downstream plan may re-read the
    * frame; the memory bound is release()'s job, not an auto-eviction's.
    */
  def release(spark: SparkSession): Unit = PlanCache.releasePins(spark, this)

  private def trackPersisted(ranged: DataFrame): Unit =
    PlanCache.addPins(ranged.sparkSession, this, ranged)

  /** (df + rankCol [1..n], n) — n comes from the same per-partition
    * counts that build the offsets, so ranking costs exactly one
    * counting job over the checkpointed frame.
    */
  private def rankedWithN(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String,
      numParts: Int): (DataFrame, Long) = {
    val parts =
      if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trackPersisted(ranged)
    val counts = ranged
      .groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.map { case (pid, c) => val o = pid -> acc; acc += c; o }.toMap
    }
    val w = Window.partitionBy(col("__rank_pid")).orderBy(sortCols: _*)
    val ranked = ranged
      .withColumn("__rank_pid", spark_partition_id())
      .withColumn(rankCol,
        element_at(typedLit(offsets), col("__rank_pid"))
          + row_number().over(w).cast("long"))
      .drop("__rank_pid")
    (ranked, counts.map(_._2).sum)
  }

  /** df + rankCol (1..n dense over the sortCols total order). */
  def withGlobalRank(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String = "global_rank",
      numParts: Int = 0): DataFrame =
    rankedWithN(df, sortCols, rankCol, numParts)._1

  /** [[withGlobalRank]] plus the exact row count n — the count is computed
    * by the same per-partition counting job that builds the rank offsets,
    * so callers needing "rank out of n" (quantile gates) get n for free
    * instead of paying a second scan.
    */
  def withGlobalRankAndCount(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String = "global_rank",
      numParts: Int = 0): (DataFrame, Long) =
    rankedWithN(df, sortCols, rankCol, numParts)

  /** df + sumCol = the INCLUSIVE running sum of `valueCol` over the
    * sortCols total order — the weighted twin of [[withGlobalRank]] and
    * the same three-step pattern: range partition, per-partition value
    * sums → prefix offsets (numPartitions longs of driver state), local
    * cumsum window + offset. A plain
    * `sum(v).over(Window.orderBy(...))` moves every row through one
    * task; this ranks token-budget admission gates at any corpus width.
    * Precondition: a TOTAL order and a non-null long valueCol. The
    * ranged frame is persisted and pinned until [[release]], exactly
    * like the ranking calls.
    */
  def withGlobalPrefixSum(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: Column,
      sumCol: String = "global_cumsum",
      numParts: Int = 0): DataFrame = {
    val parts =
      if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.withColumn("__ps_v", valueCol.cast("long"))
      .repartitionByRange(parts, sortCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trackPersisted(ranged)
    val sums = ranged
      .groupBy(spark_partition_id().as("pid"))
      .agg(sum(col("__ps_v")).as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      sums.map { case (pid, s) => val o = pid -> acc; acc += s; o }.toMap
    }
    val w = Window.partitionBy(col("__ps_pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .withColumn("__ps_pid", spark_partition_id())
      .withColumn(sumCol,
        element_at(typedLit(offsets), col("__ps_pid"))
          + sum(col("__ps_v")).over(w))
      .drop("__ps_pid", "__ps_v")
  }

  /** ntile / percent_rank / cume_dist derived arithmetically from the
    * exact global rank — bit-identical to the window-function definitions
    * (same IEEE divisions Spark's PercentRank/CumeDist evaluate), no
    * global sort task:
    *   - ntile(k): first n%k buckets hold ceil(n/k) rows, rest floor(n/k);
    *   - percent_rank = (r-1)/(n-1), 0.0 when n == 1 (no ties by
    *     precondition, so rank == row_number);
    *   - cume_dist = r/n.
    */
  def withRankStats(
      df: DataFrame,
      sortCols: Seq[Column],
      k: Int,
      tileCol: String,
      pctCol: String,
      cumeCol: String): DataFrame = {
    val (ranked, n) = rankedWithN(df, sortCols, "__r", 0)
    val r0 = col("__r") - 1 // 0-based rank
    val small = n / k
    val rem = n % k
    val big = small + 1
    val cut = rem * big // rows before this rank fall in the ceil-sized buckets
    // Exact integer division (SQL DIV), not double `/` + cast: truncation of
    // a double quotient matches integer floor only below ~2^52 rows — DIV
    // makes the ntile equivalence scale-independent. `small max 1` keeps the
    // never-taken otherwise-branch well-formed when n < k (small == 0, where
    // every row satisfies r0 < cut == n).
    val tile =
      when(r0 < lit(cut), expr(s"(__r - 1) DIV $big") + 1)
        .otherwise(lit(rem) + expr(s"(__r - 1 - $cut) DIV ${small max 1L}") + 1)
    val pct =
      if (n <= 1) lit(0.0)
      else r0.cast("double") / lit((n - 1).toDouble)
    ranked
      .withColumn(tileCol, tile.cast("int"))
      .withColumn(pctCol, pct)
      .withColumn(cumeCol, col("__r").cast("double") / lit(n.toDouble))
      .drop("__r")
  }
}
