package graft

import graft.telemetry._
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** A repeated plan compiles once per JVM (GraftSession's codegen posture):
  * the generated-class cache holds more than Spark's default 100 classes,
  * and a streaming query's session clone re-uses the classes an earlier
  * query compiled.
  *
  * The compile counter is JVM-wide, so these deltas hold only while no
  * other suite runs at the same time: build.sbt sets no parallel test
  * execution, and it must stay that way for this spec to mean anything.
  */
class CodegenCacheSpec extends SparkSpecBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the first of 150 distinct plans re-runs without compiling") {
    // the long literal is inlined into the generated Java source, so each
    // i is a distinct whole-stage class
    def run(i: Int): Unit =
      spark.range(8).select((col("id") + lit(1000L + i)).as("x")).collect()
    val c0 = compiles
    (0 until 150).foreach(run)
    assert(compiles - c0 >= 150, "the projections did not compile distinct classes")
    val c1 = compiles
    run(0)
    assert(compiles - c1 == 0, s"re-running plan 0 compiled ${compiles - c1} classes")
  }

  test("a second streamAppendMetrics query compiles nothing on its trigger") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val day0 = 86400L * 100
    val base = Files.createTempDirectory("graft-codegen").toString
    val rawDir = s"$base/raw"
    new java.io.File(rawDir).mkdirs()
    val csv = new StringBuilder(
      "worker_name,machine,start_time,end_time,machine_cpu_iowait," +
        "machine_cpu_kernel,machine_cpu_usr,machine_gpu,machine_load_1," +
        "machine_net_receive,machine_num_worker,machine_cpu\n")
    for (d <- 0 until 3; i <- 0 until 4) {
      val ts = day0 + d * 86400L + i * 7000L
      csv.append(s"w$i,m$i,${ts - 300},$ts,0.1,0.2,0.3,${30.0 + d},1.5,100.0,2,50.0\n")
    }
    Files.writeString(Paths.get(s"$rawDir/pai_machine_metric.csv"), csv.toString)
    // one lake per query: the commit ledger lives in the lake, so the
    // second query's batch 0 would be skipped on a shared one
    val lakes = Seq("a", "b").map { name =>
      val lake = s"$base/lake_$name"
      Bronze.ingestTable(spark, rawDir, lake,
        Bronze.tables.find(_.name == "bronze_machine_metrics").get)
      Incremental.initPartitionedGold(spark, lake)
      lake
    }
    val batch = (0 until 3).map { i =>
      val ts = day0 + 4 * 86400L + i * 7000L
      BronzeMetric(s"w$i", s"m$i", ts - 300, ts, 0.1, 0.2, 0.3, 70.0, 1.5,
        100.0, 2.0, 50.0)
    }
    // compiles made by the query's one trigger
    def trigger(lake: String, name: String): Long = {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[BronzeMetric]
      val q = Incremental.streamAppendMetrics(in.toDF(), lake, s"$base/ckpt_$name")
      try {
        val c0 = compiles
        in.addData(batch: _*)
        q.processAllAvailable()
        compiles - c0
      } finally q.stop()
    }
    trigger(lakes(0), "a")
    val second = trigger(lakes(1), "b")
    assert(second == 0, s"the second query's trigger compiled $second classes")
    assert(Incremental.readPartitionedGold(spark, lakes(1)).count() == 4)
  }
}
