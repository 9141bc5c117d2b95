package graft.telemetry

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental lake maintenance — the capability the reference's
  * full-refresh flow (pipelines/flow_full_refresh.py) lacks but any
  * production lakehouse needs: fold a NEW batch of raw metrics into the
  * medallion layers touching only what the batch touches.
  *
  * Mechanics: bronze is append-only (new batch appended as new parquet
  * files — no rewrite of history); gold is maintained as a
  * dt-PARTITIONED table, and the batch's affected days are recomputed
  * from silver and written with Spark's dynamic partition overwrite —
  * only the touched dt directories are replaced, untouched partitions'
  * files are not rewritten (IncrementalSpec asserts this physically).
  *
  * Scale: cost is O(new batch) + O(touched days' silver rows), not
  * O(history) — the difference between minutes and hours at 100 TB. The
  * affected-day recompute reads the full bronze but with the day filter
  * pushed into the parquet scan, so at scale (bronze itself partitioned
  * by ingest day) only the touched days' files are opened. The
  * `collect()` of affected days is bounded by days-per-batch (tiny).
  */
object Incremental {

  final case class AppendResult(newRows: Long,
                                affectedDays: Seq[java.sql.Timestamp],
                                goldRows: Long)

  private def goldPartDir(lakeDir: String) =
    s"$lakeDir/gold/gold_cluster_util_daily_part.parquet"

  /** One-time initialization (or disaster rebuild): the same gold rows the
    * batch pipeline produces, laid out partitioned by dt so per-day
    * overwrites are possible. Returns the rows written.
    */
  def initPartitionedGold(spark: SparkSession, lakeDir: String): Long = {
    val silver = Silver.gpuTimeseries(
      Bronze.readBronze(spark, lakeDir, "bronze_machine_metrics"))
    writeCounted(Gold.clusterUtilDaily(silver)) {
      _.write.mode("overwrite").partitionBy("dt").parquet(goldPartDir(lakeDir))
    }
  }

  /** Run `write` on `df` and return the rows it wrote: the count rides
    * the write job through an Observation (the Bronze.ingestTable idiom).
    */
  private def writeCounted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  def readPartitionedGold(spark: SparkSession, lakeDir: String): DataFrame =
    spark.read.parquet(goldPartDir(lakeDir))

  /** Fold one raw CSV batch of machine metrics into bronze + gold. */
  def appendMetrics(spark: SparkSession, rawCsvPath: String,
                    lakeDir: String): AppendResult =
    appendMetricsFrame(
      Bronze.readCsv(spark, rawCsvPath, Schemas.bronzeMachineMetrics), lakeDir)

  /** Streaming twin: every micro-batch runs the same append-only-bronze +
    * day-scoped-gold maintenance through foreachBatch. This is the
    * standard streaming-upsert-into-partitioned-table pattern: the
    * streaming engine provides ordering/retries per epoch, the batch
    * maintenance provides the day-scoped rewrite — no separate streaming
    * gold logic to keep in sync with batch.
    *
    * foreachBatch is AT-LEAST-ONCE: a sink failure mid-epoch or a
    * restart replays the same batchId, and replaying an APPEND into
    * bronze would double the rows permanently. A commit ledger under the
    * lake (one marker file per batchId, written only after the epoch's
    * maintenance fully succeeded) makes the sink idempotent: a replayed
    * epoch whose marker exists is skipped — the same ledger-version
    * pattern transactional table formats use for streaming writes.
    */
  def streamAppendMetrics(stream: org.apache.spark.sql.DataFrame,
                          lakeDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        commitOnce(lakeDir, batchId) {
          appendMetricsFrame(batch, lakeDir, Some(batchId)); ()
        }
        ()
      }
      .start()

  /** Run `body` at most once per (lake, batchId) — the marker is written
    * only AFTER body succeeded, so a committed epoch's replay is
    * skipped. The marker alone cannot make a NON-idempotent body safe (a
    * crash between body completion and marker write replays it): true
    * exactly-once comes from this ledger COMBINED WITH the
    * per-batch-prefixed bronze append (`appendMetricsFrame` with a
    * batchId cleans its own prefix before re-appending) and the
    * day-scoped gold overwrite being a deterministic rewrite. Returns
    * false when skipped.
    *
    * OBJECT-STORE CAVEAT (same as Layouts.compact): this ledger and the
    * staged-rename append below use `java.io.File` — correct on a local
    * or HDFS-style filesystem where create/rename are atomic, WRONG on
    * S3-style object stores where rename is copy+delete and
    * createNewFile has no atomicity guarantee (two racing drivers can
    * both "create" the marker). On an object store, swap this layer for
    * a transactional table format's commit protocol (Delta/Iceberg
    * transaction log) — the Lake seam is where that swap plugs in; the
    * day-scoped-recompute logic above it is unchanged.
    */
  def commitOnce(lakeDir: String, batchId: Long,
                 ledgerName: String = "bronze/_stream_commits")
                (body: => Unit): Boolean = {
    val ledger = new java.io.File(s"$lakeDir/$ledgerName")
    val marker = new java.io.File(ledger, batchId.toString)
    if (marker.exists()) false
    else {
      body
      ledger.mkdirs()
      if (!marker.createNewFile())
        throw new java.io.IOException(
          s"stream commit marker $marker could not be created")
      true
    }
  }

  /** Idempotent bronze append for a replayable batch: the batch is
    * staged to a hidden per-batch directory, any files from a PREVIOUS
    * attempt of the same batch are deleted from bronze, and the staged
    * part files are renamed in under a deterministic `batch-<id>-`
    * prefix. A replay at ANY crash point first wipes its own prefix, so
    * the batch's rows exist in bronze exactly once no matter how many
    * times the epoch reruns.
    */
  private[telemetry] def appendBatchIdempotent(batch: DataFrame,
                                               bronzeDir: String,
                                               batchId: Long): Unit = {
    val dir = new java.io.File(bronzeDir)
    dir.mkdirs() // first batch of a brand-new table: target must exist to rename into
    val prefix = s"batch-$batchId-"
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix)).foreach(_.delete())
    val staged = new java.io.File(dir.getParentFile,
      s".staging_batch_$batchId")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
      f.delete(); ()
    }
    batch.write.mode("overwrite").parquet(staged.toString)
    Option(staged.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .foreach { f =>
        val target = new java.io.File(dir, prefix + f.getName)
        if (!f.renameTo(target))
          throw new java.io.IOException(s"append: rename $f -> $target failed")
      }
    deleteRec(staged)
  }

  /** Core maintenance over an already-loaded bronze-shaped batch.
    * Returns the batch size, the affected days, and the number of gold
    * rows actually rewritten — which can be FEWER than the affected
    * days when a touched day's readings are all NULL (Silver keeps
    * those rows, Gold filters them, so the day yields no gold row).
    * `batchId` makes the bronze append replay-safe (streaming epochs);
    * None appends plainly (one-shot CSV ingestion, no replay semantics).
    */
  def appendMetricsFrame(batch: DataFrame, lakeDir: String,
                         batchId: Option[Long] = None): AppendResult = {
    val spark = batch.sparkSession
    // 1. append-only bronze: new files land next to history, no rewrite;
    //    replayable batches go through the idempotent prefixed path
    val bronzeDir = s"$lakeDir/bronze/bronze_machine_metrics.parquet"
    val newRows = writeCounted(batch) { b =>
      batchId match {
        case Some(id) => appendBatchIdempotent(b, bronzeDir, id)
        case None => b.write.mode("append").parquet(bronzeDir)
      }
    }

    // 2. which gold days does the batch touch? (bounded collect: one row
    //    per distinct day in the batch)
    val dayExpr = date_trunc("day", timestamp_seconds(col("ts")))
    val days = Silver.gpuTimeseries(batch)
      .select(dayExpr.as("dt")).distinct()
      .collect().map(_.getTimestamp(0)).toSeq

    if (days.isEmpty)
      return AppendResult(newRows, Nil, 0L)

    // 3. recompute ONLY those days from the full (history + batch) silver;
    //    the day filter sits on the scan side of the aggregate
    val fullSilver = Silver.gpuTimeseries(
      Bronze.readBronze(spark, lakeDir, "bronze_machine_metrics"))
      .filter(dayExpr.isin(days: _*))
    val touchedGold = Gold.clusterUtilDaily(fullSilver)

    // 4. dynamic partition overwrite: replace exactly the touched dt
    //    directories, leave every other partition's files untouched. Count
    //    what was written: a day whose gpu_util is all NULL yields no gold
    //    row (Silver keeps the rows, Gold filters them).
    val goldRows = writeCounted(touchedGold) {
      _.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt")
        .parquet(goldPartDir(lakeDir))
    }
    AppendResult(newRows, days.sortBy(_.getTime), goldRows)
  }
}
