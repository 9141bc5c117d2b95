package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.operators.Artifacts
import graft.telemetry._

/** The paper's flow on a fresh lake per repetition: bronze ingest, silver
  * and gold models, contract checks, IsolationForest train and score,
  * alerts, the scored export and the partitioned gold, then one streamed
  * micro-batch per single-day append batch.
  */
final class LakehouseRefresh(raw: String) extends Workload {
  private val appendFiles = Option(new File(raw).listFiles()).getOrElse(Array.empty)
    .filter(f => f.getName.startsWith("append_") && f.getName.endsWith(".csv"))
    .sortBy(_.getName).toSeq
  private var batches: Seq[Array[Row]] = Nil

  val ops: Seq[String] = Seq("telemetry.ingest", "telemetry.models", "telemetry.checks",
    "ml.train_score", "telemetry.alerts", "sources.export_scored", "telemetry.init_gold",
    "streaming.start") ++ appendFiles.indices.map(i => s"streaming.append_$i") :+
    "streaming.stop"

  def prepare(ctx: Ctx): Double = {
    batches = appendFiles.map(f =>
      Bronze.readCsv(ctx.spark, f.getPath, Schemas.bronzeMachineMetrics).collect())
    0.0
  }

  private var counts: Map[String, Long] = Map.empty
  private val appendLog = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  private def goldPart(lake: String) = new File(s"$lake/gold/gold_cluster_util_daily_part.parquet")

  /** partition day → its parquet file names. */
  private def goldListing(lake: String): Map[String, Set[String]] =
    Option(goldPart(lake).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("dt="))
      .map(d => d.getName.stripPrefix("dt=").take(10) ->
        Option(d.listFiles()).getOrElse(Array.empty).map(_.getName)
          .filter(_.endsWith(".parquet")).toSet)
      .toMap

  def rep(ctx: Ctx, dir: File): Unit = {
    val spark = ctx.spark
    val lake = new File(dir, "lake").getAbsolutePath
    appendLog.clear()
    counts = ctx.op("telemetry.ingest") { Bronze.ingestAll(spark, raw, lake) }
    val (jobs, ts, gold) = ctx.op("telemetry.models") { Pipeline.buildModels(spark, lake) }
    ctx.op("telemetry.checks") { Checks.runAll(jobs, ts, gold) }
    val scored = ctx.op("ml.train_score") { Pipeline.trainAndScore(spark, lake, gold) }
    ctx.op("telemetry.alerts") {
      Alerts.appendAlerts(spark, lake, scored, Alerts.nextBatchId(lake))
    }
    ctx.op("sources.export_scored") {
      Pipeline.exportScored(spark, lake, new File(dir, "export").getAbsolutePath)
    }
    ctx.op("telemetry.init_gold") { Incremental.initPartitionedGold(spark, lake) }

    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(Schemas.bronzeMachineMetrics)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Row]
    val q = ctx.op("streaming.start") {
      Incremental.streamAppendMetrics(in.toDF(), lake,
        new File(dir, "ckpt").getAbsolutePath)
    }
    try {
      val triggers = batches.zipWithIndex.map { case (rows, i) =>
        val before = goldListing(lake)
        ctx.op(s"streaming.append_$i") {
          in.addData(rows.toSeq: _*)
          q.processAllAvailable()
        }
        val after = goldListing(lake)
        val changed = after.keys.filter(k => !before.get(k).contains(after(k))).toSeq.sorted
        val newFiles = after.toSeq.map { case (k, fs) => (fs -- before.getOrElse(k, Set.empty)).size }.sum
        appendLog += Map("batch" -> i, "changed" -> changed, "new_files" -> newFiles)
        ctx.extra("telemetry.gold_files_rewritten", newFiles.toDouble)
        ctx.walls(s"streaming.append_$i")
      }
      val sorted = triggers.sorted
      if (sorted.nonEmpty) ctx.extra("streaming.trigger_p50_s",
        if (sorted.size % 2 == 1) sorted(sorted.size / 2)
        else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2)
    } finally {
      ctx.op("streaming.stop") { q.stop() }
    }
    ctx.extra("sources.lake_mb", treeBytes(new File(lake)) / 1e6)
  }

  private def treeBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum

  def afterRep(ctx: Ctx, dir: File, last: Boolean): Unit = if (last) {
    val spark = ctx.spark
    val lake = new File(dir, "lake").getAbsolutePath
    val check = ctx.checkDir.getAbsolutePath
    def day(c: String) = substring(col(c).cast("string"), 1, 10).as("day")
    def dump(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$check/$name")
    dump(spark.read.parquet(s"$lake/gold/gold_cluster_util_daily.parquet")
      .select(day("dt"), col("avg_gpu_util"), col("p95_gpu_util"), col("avg_cpu_util")),
      "gold_refresh")
    dump(Incremental.readPartitionedGold(spark, lake)
      .select(day("dt"), col("avg_gpu_util"), col("p95_gpu_util"), col("avg_cpu_util")),
      "gold_after")
    dump(spark.read.parquet(s"$lake/gold/gold_cluster_util_daily_scored.parquet")
      .select(day("dt"), col("anomaly_flag")), "scored")
    dump(Alerts.readAlerts(spark, lake).select(day("dt"), col("detected_batch")), "alerts")
    val bronzeAfter = Bronze.readBronze(spark, lake, "bronze_machine_metrics").count()
    java.nio.file.Files.writeString(new File(ctx.checkDir, "lakehouse.json").toPath,
      Json(Map("bronze_counts" -> counts, "bronze_metrics_after" -> bronzeAfter,
        "appends" -> appendLog.toSeq)))
  }
}

/** A fixed mix of analyst queries from three packs: the reference's gold
  * and silver marts and dbt checks (RelationalQueries), TPC-H shapes
  * (JoinQueries) and event analytics (EventQueries). Each query is built
  * anew through `SparkEntry.queries` on every execution and forced through
  * the noop sink; the first warm-up repetition writes each result instead,
  * for the DuckDB oracle check.
  */
final class AnalystQueries(dataDir: String) extends Workload {
  val Mix: Seq[(String, String)] = AnalystQueries.Mix

  val ops: Seq[String] = Mix.map { case (pack, q) => s"$pack.$q" }

  def prepare(ctx: Ctx): Double = {
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(new File(ctx.checkDir, "oracle.json").toPath,
      Json(Mix.map { case (_, q) => q -> oracle(q) }.toMap))
    0.0
  }

  def rep(ctx: Ctx, dir: File): Unit = Mix.foreach { case (pack, q) =>
    ctx.op(s"$pack.$q") {
      val t0 = System.nanoTime()
      val df = ctx.span("queries.construct") { graft.SparkEntry.queries(q)(ctx.spark, dataDir) }
      val t1 = System.nanoTime()
      ctx.span("queries.execute") {
        if (ctx.checking)
          df.write.mode("overwrite").parquet(new File(ctx.checkDir, q).getAbsolutePath)
        else df.write.format("noop").mode("overwrite").save()
      }
      ctx.extra("queries.construct_s", (t1 - t0) / 1e9)
      ctx.extra("queries.execute_s", (System.nanoTime() - t1) / 1e9)
    }
  }

  def afterRep(ctx: Ctx, dir: File, last: Boolean): Unit = ()
}

object AnalystQueries {
  /** pack → queries: the daily gold mart and a profile aggregate, two
    * TPC-H join shapes, two event analytics. Every one has an oracle.
    * (q_tpch_q2_shape and q_tpch_q9_shape are left out: their rounded double
    * results differ from DuckDB's by one cent on some inputs, so they would
    * fail on some seeds and not others.)
    */
  val Mix: Seq[(String, String)] = Seq(
    "relational" -> "q_gold_daily", "relational" -> "q_agg_summary",
    "tpch" -> "q_tpch_q3", "tpch" -> "q_tpch_q5",
    "events" -> "q_sessionize", "events" -> "q_funnel_steps")
}

/** The seven curation stages of the composed training-data pipeline, each
  * pinned through the artifact registry and materialized, like the
  * pipeline's own staging.
  */
final class CurationPipeline(inputDir: String, work: File) extends Workload {
  val ops: Seq[String] = Seq("text.extract", "dedup.bag", "dedup.neardup", "dedup.clean",
    "sampling.sample", "text.pack", "sources.export")
  val PackTokens = 2048
  val MaxRecordsPerShard = 2000

  private var stages: Map[String, DataFrame] = Map.empty

  private val docsDir = new File(work, "corpus").getAbsolutePath

  /** Derive the corpus (CurationPipeline.derive); returns the seconds taken. */
  def prepare(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    CurationPipeline.derive(ctx.spark, inputDir, s"$docsDir/documents.parquet")
    graft.Tables.documents(ctx.spark, docsDir).schema
    (System.nanoTime() - t0) / 1e9
  }

  def rep(ctx: Ctx, dir: File): Unit = {
    val spark = ctx.spark
    stages = Map.empty
    def stage(name: String)(body: => DataFrame): (DataFrame, Long) = ctx.op(name) {
      val df = Artifacts.pin(body, s"perfbench.$name")
      stages += name -> df
      (df, df.count())
    }
    val (extracted, _) = stage("text.extract") {
      graft.Tables.documents(spark, docsDir)
        .withColumn("__p", graft.text.TextFunctions.textProfile(col("text")))
        .select(col("doc_id"), col("text"), col("source"),
          col("__p.n_tokens").as("n_tokens"),
          graft.text.TextFunctions.qualityFromProfile(col("__p")).as("quality"),
          graft.text.TextFunctions.langIdFromProfile(col("__p")).as("lang_id"))
        .filter(col("n_tokens") >= 5 && col("quality") >= 0.2)
    }
    val (canonicals, _) = stage("dedup.bag") {
      val groups = graft.dedup.Dedup.exactBagGroups(extracted, "text", "doc_id")
      extracted.join(groups.select(col("canonical_id").as("doc_id")), Seq("doc_id"), "left_semi")
    }
    val (pairs, nPairs) = stage("dedup.neardup") {
      graft.dedup.Dedup.simhashPairsWideAdaptive(canonicals, "text", "doc_id", maxHamming = 3)
    }
    ctx.extra("dedup.pairs", nPairs.toDouble)
    val (cleaned, _) = stage("dedup.clean") {
      graft.dedup.Components.cleanCorpusBest(canonicals, pairs, "doc_id", score = col("n_tokens"))
    }
    val (sampled, _) = stage("sampling.sample") {
      graft.sampling.Sampling.stratifiedSample(cleaned, "doc_id", "source", Map.empty,
        defaultFraction = 0.7)
    }
    stage("text.pack") { graft.text.Packing.packBySize(sampled, "doc_id", "text", PackTokens) }
    stage("sources.export") {
      graft.sources.Export.exportJsonlShards(sampled.select("doc_id", "text"), "doc_id",
        new File(dir, "export").getAbsolutePath, epoch = 1,
        maxRecordsPerShard = MaxRecordsPerShard)
    }
    ctx.extra("operators.artifacts_pinned", Artifacts.registered(spark).size.toDouble)
  }

  def afterRep(ctx: Ctx, dir: File, last: Boolean): Unit = {
    if (last) {
      val check = ctx.checkDir.getAbsolutePath
      def dump(name: String, cols: String*): Unit = stages.get(name).foreach { df =>
        val sel = if (cols.isEmpty) df else df.select(cols.map(col): _*)
        sel.coalesce(1).write.mode("overwrite").parquet(s"$check/$name")
      }
      dump("dedup.neardup")
      dump("dedup.clean", "doc_id", "source")
      dump("sampling.sample", "doc_id", "source")
      dump("text.pack")
      dump("sources.export")
      java.nio.file.Files.writeString(new File(ctx.checkDir, "curation.json").toPath,
        Json(Map("pack_tokens" -> PackTokens, "max_records_per_shard" -> MaxRecordsPerShard,
          "export_dir" -> new File(dir, "export").getAbsolutePath,
          "corpus" -> s"$docsDir/documents.parquet")))
    }
    stages = Map.empty
  }
}

object CurationPipeline {
  /** Derive the corpus ScaledFixture's diversify mode builds, into `out`:
    * the base documents as replica 0, and
    * replica r with every doc_id shifted by r·10⁸ and its text rewritten by
    * the program's own `ScaledFixture.diversifyText`. The base path and the
    * replica indices (drawn from the seed) come from `inputDir`/manifest.json.
    */
  def derive(spark: org.apache.spark.sql.SparkSession, inputDir: String, out: String): Unit = {
    val man = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(inputDir, "manifest.json"))
    val base = spark.read.parquet(man.get("base").asText())
    val replicas = (0 until man.get("replicas").size).map(i => man.get("replicas").get(i).asInt)
    replicas.map { r =>
      if (r == 0) base
      else base.withColumn("doc_id", col("doc_id") + lit(r * 100000000L))
        .withColumn("text", graft.ScaledFixture.diversifyText(col("text"), r))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(out)
  }
}

/** Workloads run one after the other as one: every repetition runs each
  * part's repetition in turn, so a part's operations are timed after the
  * earlier parts' in the same JVM and the same repetition.
  */
final class InSequence(parts: Workload*) extends Workload {
  val ops: Seq[String] = parts.flatMap(_.ops)
  def prepare(ctx: Ctx): Double = parts.map(_.prepare(ctx)).sum
  def rep(ctx: Ctx, dir: File): Unit = parts.foreach(_.rep(ctx, dir))
  def afterRep(ctx: Ctx, dir: File, last: Boolean): Unit = parts.foreach(_.afterRep(ctx, dir, last))
}
