package graft.operators

import org.apache.spark.sql.SparkSession

/** The one session-scoped memo (narrow child sessions, fixture frames,
  * artifact scalars, the graph mart): values per (session, key).
  *
  *  - Keyed STRONGLY by the session object (identity); the values hold
  *    their session anyway, so a weak key would never be released.
  *    Every lookup drops the entries whose SparkContext has stopped.
  *  - `compute` runs OUTSIDE the lock, so a slow Spark job never blocks
  *    a hit on another key. Racing first callers may both compute; the
  *    first insert wins and both get the stored value.
  *  - At most `cap` entries in total, oldest inserted evicted first:
  *    short-lived child sessions share a live context and are never
  *    pruned as stopped. Values must be recomputable.
  */
final class SessionMemo[K, V](cap: Int) {
  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, K), V]

  /** The value for (`spark`, `k`), computed and stored on a miss. */
  def apply(spark: SparkSession, k: K)(compute: => V): V = {
    val key = (spark, k)
    val hit = entries.synchronized {
      entries.filterInPlace((e, _) => !SessionMemo.stopped(e._1))
      entries.get(key)
    }
    hit.getOrElse {
      val v = compute
      entries.synchronized {
        val stored = entries.getOrElseUpdate(key, v)
        while (entries.size > cap) entries.remove(entries.head._1)
        stored
      }
    }
  }

  /** Drop every entry of `spark`. */
  def clear(spark: SparkSession): Unit = entries.synchronized {
    entries.filterInPlace((e, _) => e._1 ne spark)
  }

  /** Entries held for `spark`. */
  def size(spark: SparkSession): Int = entries.synchronized {
    entries.keysIterator.count(_._1 eq spark)
  }
}

object SessionMemo {

  /** Whether `spark`'s context has stopped (or cannot be reached): its
    * cached blocks and session state died with it.
    */
  private[operators] def stopped(spark: SparkSession): Boolean =
    try spark.sparkContext.isStopped
    catch { case _: Throwable => true }
}
