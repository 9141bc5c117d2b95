package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The COMPOSED training-data pipeline, measured end-to-end: extract →
  * quality/langid gate → bag-exact dedup → wide-simhash near-dup pairs →
  * cluster + keep-best clean → stratified sample → sequence packing →
  * shuffled JSONL export, as ONE run over `$SPARK_GRAFT_SF_DIR/documents
  * .parquet` with per-stage wall-time and row-count attribution.
  *
  * Why it exists (round 14): every family was probed per-QUERY at
  * 30×/100×, but the product is a pipeline — stages feed each other, and
  * the artifact-pinning pattern (simhash sketch, candidate pairs) must
  * compose ACROSS stages: the near-dup stage's pinned sketch is the same
  * frame the clean stage's connected-components consumes, so a
  * re-derivation (stage 4 re-paying stage 3's hash pass) shows up as a
  * stage-4 time ≈ stage-3 time instead of the cluster cost alone.
  *
  * Stage outputs are pinned through [[graft.operators.Artifacts]] under
  * `pipe.<stage>` labels and swept at the end — the registry's intended
  * pipeline posture (bounded lifetime, amortized within the run). Each
  * stage is materialized (count) so the attribution boundary is real;
  * the count on an Artifacts-pinned frame is the cache fill, exactly the
  * "write the stage to the lake" cost a production pipeline pays.
  *
  * Output: one JSON line `{"metric":"pipeline_total","value":…,
  * "stages":{name:[sec,rows,task_gc_ms,spill_mb],…}}`, also written to
  * $SPARK_GRAFT_PIPE_OUT (default target/pipeline_last.json).
  */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val exportDir = sys.env.getOrElse("SPARK_GRAFT_PIPE_EXPORT",
      "/tmp/graft_pipe_export")
    val spark = GraftSession.local()

    // Per-stage attribution (round 15 — the d1000 pack/export runs
    // varied 5-18× run-to-run under the 8 GiB heap with the route ruled
    // out as the cause; gc/spill per stage makes the variance
    // attributable from the artifact instead of adjudicated after):
    // each stage is one Trace window, and its task-summed GC time and
    // memory/disk spill ride the stage row.
    val stages = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Long, Long, Double)]
    def stage(name: String)(body: => DataFrame): DataFrame = {
      val ((df, rows, sec), c) = Trace.measure(spark) {
        val t0 = System.nanoTime()
        val df = graft.operators.Artifacts.pin(body, s"pipe.$name")
        val rows = df.count()
        (df, rows, (System.nanoTime() - t0) / 1e9)
      }
      val gcMs = c.taskGcMs
      val spillMb = c.spillBytes / 1e6
      stages(name) = (sec, rows, gcMs, spillMb)
      System.err.println(f"PIPELINE $name%-14s ${sec}%8.2f s  $rows%10d rows" +
        f"  gc=${gcMs}%d ms  spill=${spillMb}%.0f MB")
      df
    }

    // 1. Extract: per-doc features (token count, composite quality,
    // n-gram language id) and the quality gate — ONE tokenize pass via
    // the native profile expression (the composed HOF spelling
    // re-tokenized 7×; values bit-identical, TextHashExprSpec parity).
    val extracted = stage("extract") {
      Tables.documents(spark, sfDir)
        .withColumn("__p", graft.text.TextFunctions.textProfile(col("text")))
        .select(col("doc_id"), col("text"), col("source"),
          col("__p.n_tokens").as("n_tokens"),
          graft.text.TextFunctions.qualityFromProfile(col("__p"))
            .as("quality"),
          graft.text.TextFunctions.langIdFromProfile(col("__p"))
            .as("lang_id"))
        .filter(col("n_tokens") >= 5 && col("quality") >= 0.2)
    }

    // 2. Bag-exact dedup: the canonical pre-pass (permuted copies
    // collapse before any pair enumerator sees them — Dedup scaladoc).
    val canonicals = stage("dedup_bag") {
      val groups = graft.dedup.Dedup.exactBagGroups(
        extracted, "text", "doc_id")
      extracted.join(
        groups.select(col("canonical_id").as("doc_id")), Seq("doc_id"),
        "left_semi")
    }

    // 3. Near-dup pairs: 120-bit simhash over the canonicals (pins the
    // (id,h1,h2) sketch frame — the cross-stage shared artifact). The
    // per-bucket adaptive route is component-exact for the clustering
    // consumer at any bound, with all-pairs cost on ordinary corpora and
    // bounded cost in ultra-hot template buckets (Dedup scaladoc).
    val pairs = stage("neardup_pairs") {
      graft.dedup.Dedup.simhashPairsWideAdaptive(canonicals, "text",
        "doc_id", maxHamming = 3)
    }

    // 4. Clean: cluster the pairs, keep each cluster's BEST copy (by
    // token count — the production keep-longest policy), anti-join the
    // rest away. connectedComponents executes eagerly inside.
    val cleaned = stage("clean") {
      graft.dedup.Components.cleanCorpusBest(canonicals, pairs, "doc_id",
        score = col("n_tokens"))
    }

    // 5. Sample: deterministic stratified down-sample by source (70%
    // per stratum — one narrow filter, no shuffle).
    val sampled = stage("sample") {
      graft.sampling.Sampling.stratifiedSample(cleaned, "doc_id", "source",
        Map.empty, defaultFraction = 0.7)
    }

    // 6. Pack: sequence-packing assignment at a 2048-token budget
    // (two-phase distributed prefix sums — no single-partition stage).
    stage("pack") {
      graft.text.Packing.packBySize(sampled, "doc_id", "text", 2048)
    }

    // 7. Export: epoch-shuffled bounded JSONL shards + read-back
    // manifest (the write happens inside; the manifest is the check).
    val manifest = stage("export") {
      graft.sources.Export.exportJsonlShards(
        sampled.select("doc_id", "text"), "doc_id", exportDir,
        epoch = 1, maxRecordsPerShard = 20000)
    }
    val nShards = manifest.count()

    val total = stages.values.map(_._1).sum
    // [sec, rows, task_gc_ms, spill_mb] per stage
    val stagesJson = stages.map { case (k, (sec, rows, gcMs, spillMb)) =>
      "\"" + k + "\":[" + math.round(sec * 100) / 100.0 + "," + rows +
        "," + gcMs + "," + math.round(spillMb) + "]"
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"pipeline_total","value":${math.round(total * 100) / 100.0},"unit":"sec","sf":"$sfDir","n_shards":$nShards,"stages":$stagesJson}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_PIPE_OUT",
      "target/pipeline_last.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), line + "\n")
    catch { case t: Throwable =>
      System.err.println(s"PIPELINE: could not write $outFile: ${t.getMessage}")
    }
    val released = graft.operators.Artifacts.releaseAll(spark)
    System.err.println(s"PIPELINE released $released pinned artifacts")
    spark.stop()
  }
}
