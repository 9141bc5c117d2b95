package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for pinned "trained artifact" frames — the
  * small persisted tables the round-13 reworks introduced (bigram LM
  * model, LSH candidate pairs, fuzzy-verify pair sets, wide-simhash
  * sketch, TF-IDF tf table, DSIR count model).
  *
  * Why it exists: those artifacts are deliberately SESSION-LIVED —
  * Spark's CacheManager dedupes repeat pins of the same canonical plan,
  * so a bench loop re-running a query amortizes the training cost, the
  * accepted posture (GraphMart precedent). But session-lived with NO
  * release handle is unbounded growth: every DISTINCT input (per-batch
  * calls in an incremental pipeline) pins another frame until the
  * session dies, and on a memory-tight executor that is GC pressure
  * long before it is an OOM (MEMORY_AND_DISK spills, it doesn't fail).
  * This registry gives the artifacts an EXPLICIT lifetime: operators
  * pin through it, callers (or the suite harness — Verify and Bench
  * sweep at suite end) release through it.
  *
  * Release path (round 15 rework): each entry holds the frame's
  * ANALYZED LOGICAL PLAN strongly, plus a WeakReference to the Dataset.
  * Most operators pin frames as locals that are unreachable by sweep
  * time, so the previous weak-value-only registry could silently lose
  * the unpersist handle to a GC and fall back to cache LRU — the
  * unbounded growth the registry exists to bound. The plan handle
  * closes that hole: `CacheManager.uncacheQuery(session, plan)` drops
  * the cache entry whether or not the Dataset survives (the live
  * Dataset's `unpersist` is preferred when reachable — it also resets
  * the frame's own storage level). Plans over file sources transitively
  * reference their session, so entries are keyed STRONGLY and every
  * registry touch drops sessions whose SparkContext has stopped (their
  * cached blocks died with the context — nothing to free). Duplicate
  * pins of one canonical plan are harmless — Spark dedupes the cache
  * entry, and uncache/unpersist are idempotent.
  */
object Artifacts {

  /** The one storage level artifacts use: survives memory pressure by
    * spilling instead of recomputing a corpus-sized lineage.
    */
  val Level: StorageLevel = StorageLevel.MEMORY_AND_DISK

  private val reg = scala.collection.mutable.LinkedHashMap
    .empty[SparkSession, scala.collection.mutable.ListBuffer[
      (String, java.lang.ref.WeakReference[DataFrame],
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]]

  /** Drop stopped sessions (call under reg's lock). The registry is not
    * a [[SessionMemo]]: a cap would drop unpersist handles.
    */
  private def pruneStopped(): Unit =
    reg.filterInPlace((s, _) => !SessionMemo.stopped(s))

  /** Persist `df` at [[Level]] and register it under `label` for its
    * session. LAZY: the cache fills on first action — right when a
    * downstream bounded read (scalar head(), count of a consumer) is
    * the materializer, or when eager fill would re-pay the build on
    * repeat calls that hit the plan cache (the measured 3× bench-loop
    * regression, BASELINE.md round 13).
    */
  def pin(df: DataFrame, label: String): DataFrame = reg.synchronized {
    pruneStopped()
    df.persist(Level)
    reg.getOrElseUpdate(df.sparkSession,
      scala.collection.mutable.ListBuffer.empty) +=
      ((label, new java.lang.ref.WeakReference(df),
        org.apache.spark.sql.GraftSqlBridge.analyzed(df)))
    df
  }

  /** [[pin]] + eager fill (count()). Use when multiple consumers share
    * no single action, so a lazy cache would race: each consumer's
    * first pass re-runs the lineage (measured 2-4× on the verify
    * paths). count() on an already-cached canonical plan is a cache
    * scan, not a re-build, so repeat calls stay cheap.
    */
  def pinEager(df: DataFrame, label: String): DataFrame = {
    val p = pin(df, label)
    p.count()
    p
  }

  /** Labels currently registered for `spark` (diagnostics + specs). */
  def registered(spark: SparkSession): Seq[String] = reg.synchronized {
    reg.get(spark).map(_.map(_._1).toSeq).getOrElse(Seq.empty)
  }

  // ------------------------------------------------------------------
  // Scalar memo keyed by a pinned frame's CANONICALIZED plan (round 17).
  //
  // Why: some operators pay a small driver-side ACTION per call that is
  // a pure function of a pinned artifact — the adaptive simhash
  // dispatch's guard histogram re-ran the sketch explode + bucket
  // aggregate on EVERY call even though the sketch itself was pinned
  // (measured d300 enumeration 7.84 s guarded vs 3.31 s plain,
  // BASELINE.md round 16 — the decision premium). The histogram's value
  // is determined by the artifact's canonical plan, so repeat calls in
  // one session can reuse the first answer. Canonicalized-plan equality
  // is exactly Spark's own CacheManager lookup rule, so the memo hits
  // precisely when the pin itself would dedupe.
  //
  // Lifetime mirrors the pins: [[releaseAll]] clears a session's
  // scalars with its pins, so a memoized scalar never outlives the
  // artifact it summarizes. The policy is [[SessionMemo]]'s. The KEYS
  // hold analyzed plans strongly, and a LocalRelation-backed plan embeds
  // its driver-built rows (ADVICE r17), so [[MemoCap]] bounds the total
  // across sessions — a handful of pinned artifacts × a few scalar keys
  // each is the real use. An evicted entry costs one recomputed action.
  val MemoCap: Int = 64

  private val memos = new SessionMemo[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String), Any](
    MemoCap)

  /** Memoize `compute` under (`df`'s canonicalized plan, `key`) for
    * `df`'s session. First call runs the action; repeat calls on any
    * frame with the SAME canonical plan return the stored value without
    * touching the cluster. `key` disambiguates multiple scalars derived
    * from one artifact (e.g. per-bound histograms).
    */
  def memo[T](df: DataFrame, key: String)(compute: => T): T = {
    val plan = org.apache.spark.sql.GraftSqlBridge.analyzed(df).canonicalized
    memos(df.sparkSession, (plan, key))(compute).asInstanceOf[T]
  }

  /** Memo entry count for `spark` (diagnostics + specs). */
  def memoized(spark: SparkSession): Int = memos.size(spark)

  /** Release every artifact registered for `spark` and clear its
    * registry; returns how many were released. Still-reachable frames
    * unpersist directly; GC-cleared ones release through their plan
    * handle (`uncacheQuery` — see class docs), so an artifact pinned as
    * a long-dropped local is freed too, not left to cache LRU.
    * Non-blocking: the sweep is a lifetime bound, not a latency-
    * critical path. Idempotent — a released entry's second pass is a
    * no-op on the cache.
    */
  def releaseAll(spark: SparkSession): Int = reg.synchronized {
    memos.clear(spark) // scalars die with their pins
    val entries = reg.remove(spark).map(_.toList).getOrElse(List.empty)
    pruneStopped()
    entries.foreach { case (_, ref, plan) =>
      try Option(ref.get) match {
        case Some(df) => df.unpersist(blocking = false)
        case None =>
          org.apache.spark.sql.GraftSqlBridge.uncacheByPlan(spark, plan)
      }
      catch { case _: Throwable => () } // a stopped context: nothing to free
    }
    entries.size
  }
}
