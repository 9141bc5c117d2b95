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
  * - a generated-class cache sized to the work
  *   (`spark.sql.codegen.cache.maxEntries`, see [[CodegenCacheEntries]]):
  *   every workload here re-runs the same plans, and a compiled plan
  *   only pays off when its class is reused. Under Spark's default of
  *   100 entries each repetition re-ran Janino and the JIT on
  *   byte-identical source: `curation_analyst` compiled 246-256 classes
  *   in every timed repetition (seeds 1-10), and 0-8 with this cache.
  * - per-session artifact isolation off
  *   (`spark.sql.artifact.isolation.enabled=false`): the class cache is
  *   keyed by (thread context classloader, source), and with isolation
  *   on, each session clone gets its own executor classloader. Every
  *   `writeStream.start()` clones the session, so the maintenance in
  *   `Incremental.streamAppendMetrics`'s `foreachBatch` compiled its
  *   classes again on every query start, whatever the cache size: 19
  *   on a second query's trigger with the cache alone, 0 with both
  *   settings (`CodegenCacheSpec`). `lakehouse_refresh`'s timed
  *   repetitions went from 78-97 compiles to 0. No graft code adds
  *   session artifacts (jars, files), so isolation had nothing to
  *   isolate.
  */
object GraftSession {

  /** Entries of the JVM-wide generated-class cache. A static conf: the
    * cache reads it once, at the first compile of the JVM. It must hold
    * every class one JVM compiles; each whole-stage class counts twice
    * in local mode (driver and executor classloaders). The largest mix
    * is `graft.Bench`: its untimed build and warm-up over all 217
    * queries at sf0.1 compiled 2901 classes under a 10000-entry cache.
    * `curation_analyst` needs ≤ 260 entries and `lakehouse_refresh`
    * fewer. 4000 rather than 3000: the cache splits its bound over 4
    * segments of 1000, and at 3000 a segment drawing more than its
    * quarter of the 2901 would evict early.
    */
  val CodegenCacheEntries = 4000

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")

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
