package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files
import java.sql.Timestamp

/** Scored-day row fed to streamAlerts (top-level so Spark codegen sees a
  * static constructor — nested case classes carry an outer pointer that
  * breaks the generated encoder).
  */
case class BenchScoredDay(dt: Timestamp, avg_gpu_util: Double,
                          anomaly_score: Double, anomaly_flag: Int)

case class BenchEvent(event_id: Long, ts: Timestamp, user_id: Long,
                      value: java.lang.Double)

/** Throughput/latency measurement for the streaming operators — the
  * committed numbers VERDICT r8 asked for (streaming had parity and
  * idempotence specs but no performance evidence).
  *
  * Methodology: MemoryStream sources driven in fixed-size triggers
  * (addData + processAllAvailable per trigger = one micro-batch), wall
  * time measured around each trigger, each operator at TWO input rates so
  * the per-trigger fixed cost separates from the per-row cost. Inputs are
  * the sf0.1 documents fixture (real text, real skew) for streamNearDups
  * and deterministic synthetic scored-day rows for streamAlerts (the
  * alert path's input is a tiny scored aggregate in production — the
  * bench feeds it orders of magnitude more days than a real stream
  * would to expose the per-epoch ledger/anti-join cost).
  *
  * streamNearDups' per-trigger cost GROWS with corpus history (each batch
  * probes the accumulated band index) — the first/last trigger split in
  * the output shows that slope; rows/s is the whole-run average. All
  * state lives in lake dirs (temp dirs here), so rates are isolated by
  * using fresh dirs per run.
  */
object StreamingBench {
  private def timeTriggers[T](chunks: Iterator[Seq[T]],
                              feed: Seq[T] => Unit): Seq[Double] =
    chunks.map { c =>
      val t0 = System.nanoTime()
      feed(c)
      (System.nanoTime() - t0) / 1e9
    }.toSeq

  private def report(op: String, rowsPerTrigger: Int,
                     trig: Seq[Double], rows: Long): Unit = {
    val total = trig.sum
    println(f"""{"op":"$op","rows_per_trigger":$rowsPerTrigger,"triggers":${trig.size},"rows":$rows,"total_sec":$total%.3f,"rows_per_sec":${rows / total}%.0f,"mean_trigger_sec":${total / trig.size}%.3f,"max_trigger_sec":${trig.max}%.3f,"first_trigger_sec":${trig.head}%.3f,"last_trigger_sec":${trig.last}%.3f}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

    // ---- streamNearDups over the real documents fixture ----
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    for (rate <- Seq(250, 1000)) {
      val root = Files.createTempDirectory(s"sb_dedup_$rate").toString
      val in = MemoryStream[(Long, String)]
      val q = StreamingTelemetry.streamNearDups(
        in.toDF().toDF("doc_id", "text"),
        s"$root/corpus", s"$root/index", s"$root/pairs", s"$root/ckpt")
      try {
        val trig = timeTriggers[(Long, String)](docs.grouped(rate),
          c => { in.addData(c: _*); q.processAllAvailable() })
        report("stream_near_dups", rate, trig, docs.size.toLong)
      } finally q.stop()
    }

    // ---- streamAlerts over synthetic scored days ----
    val day0 = Timestamp.valueOf("2020-01-01 00:00:00").getTime
    def scored(i: Int) = BenchScoredDay(
      new Timestamp(day0 + i * 86400000L),
      40.0 + i % 50, -0.5 + (i % 100) / 100.0,
      if (i % 5 == 0) 1 else 0)
    for ((rate, n) <- Seq((2000, 10000), (10000, 20000))) {
      val root = Files.createTempDirectory(s"sb_alerts_$rate").toString
      val in = MemoryStream[BenchScoredDay]
      val q = StreamingTelemetry.streamAlerts(in.toDF(),
        s"$root/lake", s"$root/ckpt")
      try {
        val trig = timeTriggers[BenchScoredDay](
          (0 until n).map(scored).grouped(rate),
          c => { in.addData(c: _*); q.processAllAvailable() })
        report("stream_alerts", rate, trig, n.toLong)
      } finally q.stop()
    }

    // ---- sketch-mart maintenance: per-epoch fine-grain sketch build +
    // parquet write, real sf0.1 events replayed in event-time order.
    // Per-trigger cost must stay FLAT in history length (each epoch
    // touches only its batch — merge-on-read pays at query time), which
    // the first/last trigger split verifies. ----
    val evAll = graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts").collect()
    def benchEv(r: org.apache.spark.sql.Row) = BenchEvent(
      r.getLong(0), r.getTimestamp(1), r.getLong(2),
      if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)))
    for (rate <- Seq(5000, 20000)) {
      val root = Files.createTempDirectory(s"sb_kmv_$rate").toString
      val in = MemoryStream[BenchEvent]
      val q = StreamingTelemetry.streamKmvMart(
        in.toDF().withColumn("event_type",
          org.apache.spark.sql.functions.lit("all")),
        s"$root/mart", s"$root/ckpt", Seq("event_type"),
        org.apache.spark.sql.functions.col("user_id").cast("string"), 128)
      try {
        val trig = timeTriggers[org.apache.spark.sql.Row](
          evAll.iterator.grouped(rate).map(_.toSeq),
          c => { in.addData(c.map(benchEv): _*); q.processAllAvailable() })
        report("stream_kmv_mart", rate, trig, evAll.length.toLong)
      } finally q.stop()
    }
    for (rate <- Seq(5000, 20000)) {
      val root = Files.createTempDirectory(s"sb_hist_$rate").toString
      val in = MemoryStream[BenchEvent]
      val q = StreamingTelemetry.streamHistMart(
        in.toDF().withColumn("event_type",
          org.apache.spark.sql.functions.lit("all")),
        s"$root/mart", s"$root/ckpt", Seq("event_type"),
        org.apache.spark.sql.functions.col("value"), 5.0)
      try {
        val trig = timeTriggers[org.apache.spark.sql.Row](
          evAll.iterator.grouped(rate).map(_.toSeq),
          c => { in.addData(c.map(benchEv): _*); q.processAllAvailable() })
        report("stream_hist_mart", rate, trig, evAll.length.toLong)
      } finally q.stop()
    }

    // ---- attributionJoin: stream-stream interval join with watermark
    // state eviction, replaying the real sf0.1 click/purchase streams in
    // event-time order (so watermarks advance the way a live source's
    // would and join state actually evicts between triggers) ----
    val attrTypes = Set("click", "purchase")
    val ev = evAll.filter(r => attrTypes(r.getString(3)))
    // Two state-store providers: the default HDFS-backed store commits a
    // full snapshot/delta per store per trigger; RocksDB (in-box since
    // Spark 3.2) amortizes via native changelog. The join keeps FOUR
    // stores per shuffle partition, so the provider choice IS the
    // trigger-floor knob at low rates (partition count is the other —
    // see BASELINE.md).
    for (provider <- Seq(
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      val tag = if (provider.contains("RocksDB")) "rocksdb" else "hdfs"
      for (rate <- Seq(2000, 10000)) {
        val root = Files.createTempDirectory(s"sb_attr_${tag}_$rate").toString
        val clicks = MemoryStream[BenchEvent]
        val purchases = MemoryStream[BenchEvent]
        val q = StreamingTelemetry.attributionJoin(
            clicks.toDF(), purchases.toDF())
          .writeStream.format("noop")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append").start()
        try {
          val trig = timeTriggers[org.apache.spark.sql.Row](
            ev.iterator.grouped(rate).map(_.toSeq),
            { c =>
              def side(t: String) =
                c.filter(_.getString(3) == t).map(benchEv)
              val cl = side("click"); val pu = side("purchase")
              if (cl.nonEmpty) clicks.addData(cl: _*)
              if (pu.nonEmpty) purchases.addData(pu: _*)
              q.processAllAvailable()
            })
          report(s"stream_attribution_$tag", rate, trig, ev.length.toLong)
        } finally q.stop()
      }
    }
    spark.stop()
  }
}
