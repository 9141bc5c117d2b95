package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Child sessions pinned to the NARROW-LOOP execution regime: AQE off +
  * `spark.sql.shuffle.partitions` = the loop's measured width (round
  * 19). The eager round loops (Components' graph iterations, Coreset's
  * greedy selection) submit one Spark job per AQE query stage — 2-5
  * exchanges per round = 2-5 jobs per round — and on the
  * small-rows/many-rounds shape that job orchestration IS the cost
  * (OPTIMIZATION_r19.md §1, interleaved A/B: pageRank 55→29 jobs
  * 1.7→1.5 s, hits 68→42 2.9→1.7, betweenness 55→22 2.6→1.5, weighted
  * LPA 30→15 1.1→0.54). AQE-off alone LOSES (OPTIMIZATION_r18.md §2:
  * every non-adaptive exchange then runs at the session's shuffle
  * width); the win needs both knobs, and the width stays scale-adaptive
  * when callers derive it from measured input size (GraphMart.edgePartitions
  * — thousands of partitions on a 100-TB graph, 1 on the fixture).
  *
  * What AQE gives up INSIDE a loop: runtime coalescing (replaced by the
  * measured width — the same target its advisory sizing reaches) and
  * skew-join splitting. With AQE on, OptimizeSkewedJoin cuts an
  * oversized join partition — a hub key's rows included — into
  * map-output slices, each joined against a copy of the other side's
  * partition; in a narrow loop a hub id's rows all go to one task.
  * Results are partitioning-independent by construction; the oracle
  * hashes pin that.
  *
  * Child sessions (the repo's scoped-conf idiom — q_join_runtime_bloom
  * precedent) keep the regime RACE-FREE: nothing mutates the caller's
  * session conf, so concurrently-running suites on a shared session
  * never observe it. A child copies the parent's modifiable runtime
  * SQL confs (ANSI mode and the like, which `newSession()` would drop)
  * before pinning the two knobs, and is memoized per (parent, width,
  * conf snapshot): a later parent conf change gets a fresh child, and
  * no child is mutated after creation. Loop RESULTS must be rebound
  * onto the parent session before returning ([[onSession]]), so
  * callers compose and execute readouts under their own confs.
  */
object NarrowExec {

  private val sessions =
    new SessionMemo[(Int, Map[String, String]), SparkSession](64)

  def session(parent: SparkSession, width: Int): SparkSession = {
    val confs = parent.conf.getAll.filter(kv => parent.conf.isModifiable(kv._1))
    sessions(parent, (width, confs)) {
      val s = parent.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions", width.toString)
      s
    }
  }

  /** Rebind `df` onto the narrow session for `width` (the plan is
    * already analyzed under the caller's session — resolution is
    * unaffected; the shared-state cache manager still serves pins).
    */
  def narrowed(df: DataFrame, width: Int): DataFrame = {
    val bridge = org.apache.spark.sql.GraftSqlBridge
    bridge.ofRows(session(df.sparkSession, width), bridge.analyzed(df))
  }

  /** Rebind a loop result back onto the caller's session. */
  def onSession(parent: SparkSession, df: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.GraftSqlBridge
    bridge.ofRows(parent, bridge.analyzed(df))
  }
}
