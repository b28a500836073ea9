package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped checkpoint cache keyed on [[PlanCache.planKey]] plus a
  * caller-supplied parameter key — the build-the-index-once discipline
  * every shared-intermediate family (span windows, shingle frames, pair
  * graphs, the regenerated corpus, crossmodal fingerprints, ...) uses:
  *
  *   - LocalRelation and streaming inputs bypass the cache entirely
  *     (see [[PlanCache.planKey]]);
  *   - compute runs OUTSIDE the lock; the loser of a concurrent race
  *     frees its own checkpoint (nobody else has seen it);
  *   - bounded at [[PlanCache.Bound]] entries; eviction unpersists
  *     wholesale via [[PlanCache.freeCheckpoint]].
  *
  * Measurement contract (see OPTIMIZATION_r13.md "Session caches"):
  * entries survive across the bench's three passes, so per-query min
  * times for consumers measure WARM index reads; the cold build cost is
  * recorded per cached family in the roundlog. Single-threaded-session
  * assumption as documented for the AQE-scoped loops: Verify/Bench run
  * queries sequentially.
  */
private[graft] final class PlanCache[K] {
  private val cache =
    scala.collection.mutable.Map.empty[((String, String, String), K), DataFrame]

  def getOrBuild(corpus: DataFrame, key: K)(compute: => DataFrame): DataFrame =
    PlanCache.planKey(corpus) match {
      case None => compute
      case Some(corpusKey) =>
        val k = (corpusKey, key)
        cache.synchronized(cache.get(k)) match {
          case Some(df) => df
          case None =>
            val computed = compute.localCheckpoint()
            cache.synchronized {
              cache.get(k) match {
                case Some(winner) => // concurrent compute won the race: keep
                  PlanCache.freeCheckpoint(computed) // ours, unseen by anyone
                  winner
                case None =>
                  if (cache.size >= PlanCache.Bound) {
                    cache.valuesIterator.foreach(PlanCache.freeCheckpoint)
                    cache.clear()
                  }
                  cache.update(k, computed)
                  computed
              }
            }
        }
    }
}

/** Driver-side memo of seeded model fits (centroids, codebooks, weight
  * vectors) keyed on [[PlanCache.planKey]] plus the fit parameters: the
  * queries over one corpus share one fit per parameter set. Values are
  * plain arrays, so eviction is a wholesale clear once the memo holds
  * more than `bound` entries — nothing to unpersist. LocalRelation inputs
  * are never stored. The fit runs outside the lock; seeded fits are
  * deterministic, so the first writer wins and a lost race only repeats
  * work. Like any ANN index, it does NOT track mutation of the
  * underlying files.
  */
private[graft] final class FitMemo[P, V](bound: Int) {
  private val memo = scala.collection.mutable.Map.empty[((String, String, String), P), V]

  def get(data: DataFrame, params: P): Option[V] =
    PlanCache.planKey(data).flatMap(k => memo.synchronized(memo.get((k, params))))

  def put(data: DataFrame, params: P, fitted: V): Unit =
    PlanCache.planKey(data).foreach(k => store((k, params), fitted))

  def getOrFit(data: DataFrame, params: P)(fit: => V): V =
    PlanCache.planKey(data) match {
      case None => fit
      case Some(k) =>
        memo.synchronized(memo.get((k, params))).getOrElse(store((k, params), fit))
    }

  private def store(key: ((String, String, String), P), fitted: V): V =
    memo.synchronized {
      memo.getOrElse(key, {
        if (memo.size > bound) memo.clear()
        memo.update(key, fitted)
        fitted
      })
    }
}

/** Fits an operator records for a later reader, keyed by (dataset, call
  * parameters): the ANN family's centroids and codebooks, which
  * [[graft.AnnOracles]] pins as literals in its DuckDB SQL after a Verify
  * run. Not last-write-wins: a run over several datasets or parameter
  * sets records one entry per distinct call, and [[get]] returns the fit
  * of exactly the call asked about, so a stale fit from another ANN call
  * can never stand in for the verified run's model.
  *
  * Unlike [[FitMemo]] this is a record, not a cache, so LocalRelation
  * inputs are kept too, keyed by schema only (their rows are invisible to
  * plan canonicalization, the caveat of [[PlanCache.planKey]]): two
  * same-schema in-memory frames share an entry and the last record wins.
  * Bounded by a wholesale clear once more than 16 entries are held.
  */
private[graft] final class FitPins[P, F] {
  private val pins = new ConcurrentHashMap[(String, P), F]()

  private def key(data: DataFrame, params: P): (String, P) =
    (PlanCache.planKey(data).map(_.productIterator.mkString("\n"))
      .getOrElse("<local:" + data.schema.simpleString + ">"), params)

  def record(data: DataFrame, params: P, fit: F): Unit = {
    if (pins.size > 16) pins.clear()
    pins.put(key(data, params), fit): Unit
  }

  /** The fit recorded for exactly this (dataset, params) call, if it ran. */
  def get(data: DataFrame, params: P): Option[F] = Option(pins.get(key(data, params)))

  /** The fit, but only while exactly ONE is recorded: with several, the
    * right one is unknowable without the dataset, and None (the driver's
    * rows-only fallback) beats pinning the wrong model and surfacing as a
    * spurious oracle mismatch.
    */
  def sole: Option[F] =
    if (pins.size == 1) Some(pins.values.iterator.next()) else None
}

/** The session-cache decisions every cache family shares: the key, how a
  * checkpointed entry is freed, the bound, the pin-until-release registry
  * for frames an operator keeps persisted past its own call, and the one
  * place a loop turns AQE off ([[withoutAqe]]). Beside it live the
  * checkpoint cache ([[PlanCache]]), the fit memo ([[FitMemo]]) and the
  * fit-pin registry ([[FitPins]]).
  */
private[graft] object PlanCache {

  /** Entries per [[PlanCache]] family before wholesale eviction. */
  val Bound = 4

  /** Session-cache key for a frame: (applicationId, canonicalized plan,
    * sorted inputFiles), or None when the frame must not be cached.
    *
    * The canonicalized plan alone is NOT sufficient: Spark canonicalizes
    * relation output to positional ids, and in Spark 4 a fresh
    * `spark.read.parquet(p)` logical plan prints as
    * `UnresolvedDataSource ... paths: 1 provided` with the path elided,
    * so two parquet reads of DIFFERENT same-schema datasets canonicalize
    * to the same string (caught by the SuffixArraySpec cache test — a
    * 36-char fixture served a 96-char corpus's request). The backing
    * files join the key to pin the actual data; the applicationId keys
    * out frames whose localCheckpoint blocks died with a previous
    * context.
    *
    * None for a plan containing a LocalRelation (an in-memory relation
    * canonicalizes to its SCHEMA only, so two local datasets with the
    * same schema would collide and silently share an entry) and for a
    * streaming frame (it cannot be localCheckpoint'ed).
    */
  def planKey(df: DataFrame): Option[(String, String, String)] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val plan = df.queryExecution.logical
    if (df.isStreaming || plan.exists(_.isInstanceOf[LocalRelation])) None
    else Some((
      df.sparkSession.sparkContext.applicationId,
      plan.canonicalized.toString,
      df.inputFiles.sorted.mkString(",")))
  }

  /** Release the block-manager storage behind a localCheckpoint'd frame
    * when a session cache evicts it: walk the plan for LogicalRDD leaves
    * (what localCheckpoint compiles to) and unpersist their RDDs
    * (non-blocking). Without this, every evicted or race-discarded cache
    * entry leaks its checkpoint blocks for the SparkContext lifetime.
    * Callers only free frames whose results prior consumers have already
    * materialized (session caches evict wholesale between corpora).
    */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  /** Persisted frames an operator keeps pinned past its own call (so the
    * lazy plan it returns reads them), keyed by (session, owner); the
    * owner is the operator's module object. Persisting — storage level,
    * eager materialization — stays with the owner; this registry only
    * remembers the frames and unpersists them on release.
    */
  private val pins = new ConcurrentHashMap[(SparkSession, AnyRef), List[DataFrame]]()

  /** Pin `frames` beside the ones `owner` already holds. */
  def addPins(spark: SparkSession, owner: AnyRef, frames: DataFrame*): Unit =
    pins.merge((spark, owner), frames.toList, (held, added) => added ::: held)

  /** Release `owner`'s previous pins, then pin what `persist` returns.
    * Releasing first matters when the new frame has the previous one's
    * plan: persist would reuse the cached entry, and a release after it
    * would drop the entry the new frame reads.
    */
  def replacePins(spark: SparkSession, owner: AnyRef)(
      persist: => Seq[DataFrame]): Seq[DataFrame] = {
    releasePins(spark, owner)
    val frames = persist
    addPins(spark, owner, frames: _*)
    frames
  }

  /** Unpersist every frame `owner` holds in `spark` (no-op if none). */
  def releasePins(spark: SparkSession, owner: AnyRef): Unit = {
    val held = pins.remove((spark, owner))
    if (held != null) held.foreach(_.unpersist(blocking = false))
  }

  /** Release what one query leaves pinned; runners call it after every
    * query. Only two owners are per-query. [[DistributedRank]] pins each
    * ranged frame beside the earlier ones ([[addPins]]), so a run of
    * queries would otherwise hold every ranged frame it built. [[Mixture]]'s
    * dist-matched base is replaced only by the next dist-matched call, so
    * it would otherwise stay persisted through every later query. Every
    * other owner replaces its pin on its own next call, which bounds it to
    * one set of frames; releasing those too would change what the bench
    * measures.
    */
  def releasePerQuery(spark: SparkSession): Unit = {
    releasePins(spark, DistributedRank)
    releasePins(spark, Mixture)
  }

  /** Run `body` with `spark.sql.adaptive.enabled` set to false, then put
    * back the value it had (`true` if unset). The loops that use it run
    * small per-round plans whose joins are already broadcast-hinted, or
    * checkpoint a layout AQE would hide; see each call site. The setting
    * is session-wide, so this is safe only while the session runs one
    * query at a time, as Verify and Bench do.
    */
  def withoutAqe[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body
    finally spark.conf.set(key, prev)
  }

  /** The frames `owner` currently holds in `spark`. */
  def pinnedFrames(spark: SparkSession, owner: AnyRef): List[DataFrame] =
    pins.getOrDefault((spark, owner), Nil)
}
