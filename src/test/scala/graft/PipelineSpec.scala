package graft

import graft.telemetry._
import java.nio.file.Files

/** End-to-end full-refresh over tiny generated CSVs: the reference's whole
  * flow (ingest → models → tests → train → score) in one run.
  */
class PipelineSpec extends SparkSpecBase {

  private def writeCsvs(rawDir: String): Unit = {
    val day0 = 86400L * 100
    // 40 days × 12 metric rows/day; day 35 is a planted anomaly (gpu 99%).
    val metrics = new StringBuilder(
      "worker_name,machine,start_time,end_time,machine_cpu_iowait," +
        "machine_cpu_kernel,machine_cpu_usr,machine_gpu,machine_load_1," +
        "machine_net_receive,machine_num_worker,machine_cpu\n")
    for (d <- 0 until 40; i <- 0 until 12) {
      val ts = day0 + d * 86400L + i * 7000L
      val gpu = if (d == 35) 99.0 else 30.0 + (i % 5)
      val cpu = if (d == 35) 95.0 else 40.0 + (i % 7)
      metrics.append(s"w$i,m${i % 4},${ts - 300},$ts,0.1,0.2,0.3,$gpu,1.5,100.0,2,$cpu\n")
    }
    Files.writeString(java.nio.file.Paths.get(s"$rawDir/pai_machine_metric.csv"),
      metrics.toString)

    val jobs = new StringBuilder("job_name,inst_id,user,status,start_time,end_time\n")
    for (j <- 0 until 25) {
      val st = day0 + j * 3600L
      val end = if (j % 5 == 0) "" else (st + 1800L).toString
      val status = if (j % 5 == 0) "Running" else "Terminated"
      jobs.append(s"job$j,inst$j,user${j % 3},$status,$st,$end\n")
    }
    Files.writeString(java.nio.file.Paths.get(s"$rawDir/pai_job_table.csv"),
      jobs.toString)
  }

  test("fullRefresh: ingest → silver/gold → checks → scored table") {
    val base = Files.createTempDirectory("graft-pipeline").toString
    val rawDir = s"$base/raw"; val lakeDir = s"$base/lake"
    new java.io.File(rawDir).mkdirs()
    writeCsvs(rawDir)

    val res = Pipeline.fullRefresh(spark, rawDir, lakeDir)
    assert(res.bronzeCounts("bronze_job_events") == 25)
    assert(res.bronzeCounts("bronze_machine_metrics") == 480)
    assert(res.goldDays == 40)
    // planted anomalous day must be flagged (contamination 0.05 of 40 = 2)
    val scored = spark.read.parquet(
      s"$lakeDir/gold/gold_cluster_util_daily_scored.parquet")
    val flaggedDays = scored.filter("anomaly_flag = 1")
      .select("avg_gpu_util").collect().map(_.getDouble(0))
    assert(res.anomalies >= 1 && flaggedDays.exists(_ > 90.0))
    // model persisted and loadable
    val m = graft.ml.IsolationForest.load(spark, res.modelPath)
    assert(m.trees.size == 100)

    // alerting runs as part of the refresh: every flagged day alerted once
    assert(res.newAlerts == res.anomalies)
    val alerts = Alerts.readAlerts(spark, lakeDir)
    assert(alerts.count() == res.anomalies)
    // a second refresh over the same raw data re-flags the same days but
    // alerts nothing new (day-keyed anti-join against the mart)
    val res2 = Pipeline.fullRefresh(spark, rawDir, lakeDir)
    assert(res2.newAlerts == 0L)
    assert(Alerts.readAlerts(spark, lakeDir).count() == res.anomalies)

    // export sink: the plot feed round-trips through CSV with the exact
    // reference columns and one row per gold day
    val exportDir = s"$base/export_scored"
    Pipeline.exportScored(spark, lakeDir, exportDir)
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(exportDir)
    assert(back.columns.toSeq ==
      Seq("dt", "avg_gpu_util", "anomaly_flag", "anomaly_score"))
    assert(back.count() == 40)
    assert(back.filter("anomaly_flag = 1").count() == res.anomalies)
    intercept[IllegalArgumentException] {
      Pipeline.exportScored(spark, lakeDir, s"$base/export_bad", "xml")
    }
  }

  test("runAll executes exactly one aggregation action per table (3 total)") {
    import spark.implicits._
    val jobs = Seq(("j1", "u1"), ("j2", "u2")).toDF("job_id", "user_id")
    val ts = Seq(("m1", 1L)).toDF("machine_id", "ts")
    val gold = Seq(("2024-01-01", 1.0), ("2024-01-02", 2.0)).toDF("dt", "avg")
    val (_, trace) = Trace.measure(spark)(Checks.runAll(jobs, ts, gold))
    assert(trace.actions == 3)
  }

  test("merged per-table pass reports the same violations as the split checks") {
    import spark.implicits._
    // one null job_id, one null user_id, one duplicated job_id
    val jobs = Seq(
      (Option.empty[String], Some("u1")),
      (Some("j2"), Option.empty[String]),
      (Some("j3"), Some("u3")),
      (Some("j3"), Some("u4"))).toDF("job_id", "user_id")
    val merged = Checks.keyedTableViolations(
      jobs, "silver_jobs", "job_id", Seq("job_id", "user_id"))
    val split =
      Checks.notNullViolations(jobs, "silver_jobs", Seq("job_id", "user_id")) ++
      Checks.uniqueViolations(jobs.select("job_id"), "silver_jobs", Seq("job_id"))
    assert(merged.toSet == split.toSet && merged.size == 3)
  }

  test("checks gate throws on duplicate gold dt") {
    import spark.implicits._
    val jobs = Seq(("j1", "u1")).toDF("job_id", "user_id")
    val ts = Seq(("m1", 1L)).toDF("machine_id", "ts")
    val gold = Seq(("2024-01-01", 1.0), ("2024-01-01", 2.0)).toDF("dt", "avg")
    val e = intercept[Checks.CheckFailedException] {
      Checks.runAll(jobs, ts, gold)
    }
    assert(e.violations.exists(_.check.startsWith("unique(dt")))
  }

  test("checks gate throws on null job_id") {
    import spark.implicits._
    val jobs = Seq((Option.empty[String], "u1"), (Some("j2"), "u2"))
      .toDF("job_id", "user_id")
    val ts = Seq(("m1", 1L)).toDF("machine_id", "ts")
    val gold = Seq(("2024-01-01", 1.0)).toDF("dt", "avg")
    val e = intercept[Checks.CheckFailedException] {
      Checks.runAll(jobs, ts, gold)
    }
    assert(e.violations.exists(_.check == "not_null(job_id)"))
  }

  test("efficiency marts aggregate jobs and utilization coherently") {
    val base = Files.createTempDirectory("graft-marts").toString
    val rawDir = s"$base/raw"; val lakeDir = s"$base/lake"
    new java.io.File(rawDir).mkdirs()
    writeCsvs(rawDir)
    Pipeline.fullRefresh(spark, rawDir, lakeDir)
    val jobs = spark.read.parquet(s"$lakeDir/silver/silver_jobs.parquet")
    val gold = spark.read.parquet(s"$lakeDir/gold/gold_cluster_util_daily.parquet")

    // user mart: 25 jobs over 3 users; every 5th is Running (0 hours,
    // still counted); fixture has no Failed jobs
    val usage = Marts.userUsageDaily(jobs).collect()
    assert(usage.map(_.getAs[Long]("n_jobs")).sum == 25)
    assert(usage.forall(_.getAs[Long]("n_failed") == 0L))
    assert(usage.forall(_.getAs[Double]("failure_rate") == 0.0))
    // terminated jobs run 1800s each → per-(user,day) hours are k*0.5
    assert(usage.forall { r =>
      val h = r.getAs[Double]("run_hours"); (h * 2) == math.floor(h * 2) })

    // job-efficiency mart: one row per day with jobs; active ≤ allocated,
    // efficiency == day's avg util / 100
    val eff = Marts.jobEfficiencyDaily(jobs, gold).collect()
    assert(eff.nonEmpty)
    eff.foreach { r =>
      val alloc = r.getAs[Double]("gpu_hours_allocated")
      val active = r.getAs[Double]("gpu_hours_active")
      assert(active <= alloc + 1e-9)
      assert(r.getAs[Double]("efficiency") <= 1.0)
      assert(math.abs(active - alloc * r.getAs[Double]("efficiency")) < 1e-6)
    }
  }

  test("efficiency mart keeps days that have jobs but no utilization row") {
    import spark.implicits._
    // one job on an epoch day with NO matching gold row: the day must
    // survive the join with null efficiency, not vanish
    val jobs = Seq(("j1", "i1", "u1", "Terminated", 86400L * 200, 86400L * 200 + 3600))
      .toDF("job_name", "inst_id", "user", "status", "start_time", "end_time")
    val silverJobs = Silver.jobs(jobs)
    val emptyGold = Seq.empty[(java.sql.Timestamp, Double)]
      .toDF("dt", "avg_gpu_util")
    val eff = Marts.jobEfficiencyDaily(silverJobs, emptyGold).collect()
    assert(eff.length == 1)
    assert(eff(0).getAs[Long]("n_jobs") == 1L)
    assert(eff(0).getAs[Double]("gpu_hours_allocated") == 1.0)
    assert(eff(0).isNullAt(eff(0).fieldIndex("efficiency")))
  }

  test("acceptedValues check counts out-of-domain rows, ignores NULLs") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("b"), Some("zz"), None).toDF("v")
    val v = Checks.acceptedValuesViolations(df, "t", "v", Seq("a", "b"))
    assert(v == Seq(Checks.Violation("t", "accepted_values(v)", 1)))
    assert(Checks.acceptedValuesViolations(df.filter("v IS NULL"),
      "t", "v", Seq("a")).isEmpty)
  }

  test("relationships check counts FK orphans, ignores NULL keys") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(2L), Some(9L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val v = Checks.relationshipViolations(child, "child", "fk", parent, "pk")
    assert(v == Seq(Checks.Violation("child", "relationships(fk -> pk)", 1)))
    val ok = Checks.relationshipViolations(
      child.filter("fk < 3"), "child", "fk", parent, "pk")
    assert(ok.isEmpty)
  }

  test("Lake seam: write/read roundtrip through the configured format") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lake").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.sources.Lake.write(df, s"$dir/t")
    val back = graft.sources.Lake.read(spark, s"$dir/t")
    assert(back.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(graft.sources.Lake.format == "parquet") // this environment
    // partitioned write path
    graft.sources.Lake.write(df.withColumn("p", $"id" % 2),
      s"$dir/tp", partitionBy = Seq("p"))
    assert(graft.sources.Lake.read(spark, s"$dir/tp").count() == 2)
  }

  test("bronze CSV read honors declared schema types") {
    val base = Files.createTempDirectory("graft-bronze").toString
    Files.writeString(java.nio.file.Paths.get(s"$base/j.csv"),
      "job_name,inst_id,user,status,start_time,end_time\nj1,i1,u1,Running,100,\n")
    val df = Bronze.readCsv(spark, s"$base/j.csv", Schemas.bronzeJobEvents)
    val r = df.collect()(0)
    assert(r.getAs[Long]("start_time") == 100L)
    assert(r.isNullAt(r.fieldIndex("end_time"))) // empty → NULL long
  }
}
