package graft

import org.apache.spark.sql.SparkSession

/** The library's session front door: a builder pre-loaded with the
  * configuration posture every graft operator assumes.
  *
  * - UTC session timezone: date_trunc/day-bucketing semantics (and the
  *   DuckDB oracle) are timezone-sensitive.
  * - AQE on with skew-join handling: runtime re-planning is the first
  *   line of defense at scale; `operators.SkewJoin` covers what AQE
  *   can't.
  * - shuffle.partitions sized to the cluster (caller passes cores for
  *   local mode; ~2-3× total executor cores on a real cluster), with AQE
  *   coalescing shrinking small stages.
  * - 128 MB file-split target: parquet scan partitions that fit executor
  *   memory with room for the operator above them.
  * - graft extensions bound: native SQL functions, the TopKPerKey
  *   planner strategy, and the row_number()<=k rewrite rule (the rule
  *   is opt-in via spark.graft.topk.rewrite.enabled — it swaps the
  *   window sort's disk spill for bounded in-memory heaps, a
  *   memory-profile change users must request).
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      // TIMESTAMP(NANOS) parquet columns scan as long (Tables.events
      // converts); session posture, NOT a loader-side conf mutation
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** Local-mode task slots: `SPARK_GRAFT_CPUS` when set, else the
    * machine's core count. The one place every main reads it.
    */
  def localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session every main and the test suite run on: `builder` on
    * `local[cores]`, UI off, WARN logging.
    */
  def local(cores: Int = localCores): SparkSession = {
    val spark = builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
