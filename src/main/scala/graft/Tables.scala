package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir. We read
  * them lazily — Catalyst prunes columns / pushes filters into the scan, so
  * callers should NOT cache here. At 100 TB these would be multi-file
  * partitioned datasets; the API is path-based so nothing changes except the
  * path pointing at a directory instead of one file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized LAZY frames per (session, dir, name) — round 19. Every
    * `spark.read.parquet` call runs a 1-task footer-inference job and
    * re-lists the path at construction; the bench rebuilds each
    * eager-classified query inside every timed pass, so the same ten
    * fixture schemas were re-inferred hundreds of times per run. A
    * catalog/metastore knows the schema once — this memo is that
    * posture. NO DATA IS CACHED: the value is an unexecuted logical
    * plan, and every action still scans the parquet bytes. The frame
    * does embed its file listing, so a fixture dir mutated mid-session
    * would be served stale — fixtures are immutable by contract
    * (TESTDATA.md). A [[graft.operators.SessionMemo]]: the cap of 256
    * bounds the short-lived child sessions of the scoped-conf idiom (an
    * eviction costs one re-inference, nothing else).
    */
  private val frames =
    new graft.operators.SessionMemo[(String, String), DataFrame](256)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    frames(spark, (dir, name)) { spark.read.parquet(s"$dir/$name.parquet") }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")

  /** events.ts normalizes to microsecond TimestampType whatever the
    * fixture's physical encoding is — the driver has shipped BOTH:
    *  - TIMESTAMP(NANOS) (rounds 1-7), which Spark 4 refuses to read
    *    natively; with `spark.sql.legacy.parquet.nanosAsLong` on (part of
    *    the GraftSession posture — a loader must not mutate session conf
    *    as a read side effect) the column scans as a long, converted here
    *    via `ts div 1000` (truncation, matching how Spark casts nanos
    *    elsewhere);
    *  - TIMESTAMP(MICROS) (round 8 regeneration), which scans as
    *    TIMESTAMP_NTZ and only needs the cast to session-zone
    *    TimestampType (UTC session ⇒ identical instants, and the sink
    *    schema stays what the oracle compares against).
    * Branching on the SCANNED type (not the conf) keeps both fixture
    * generations readable with either session posture.
    */
  def events(s: SparkSession, d: String): DataFrame =
    frames(s, (d, "events#normalized")) {
      val df = load(s, d, "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case _ =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      }
    }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
