package graft

/** Dev main: print the executed plan and one timed noop-sink run of a
  * single SparkEntry query against an arbitrary fixture dir, with
  * optional session-conf overrides — the tool behind planner-decides
  * evidence like the q14 broadcast→shuffle flip (BASELINE.md round 9):
  * same unhinted query code, different relation sizes/conf, different
  * physical join, both timed.
  *
  * Usage: runMain graft.ExplainQuery <queryName> [sfDir] [k=v ...]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val name = args.head
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val confs = args.drop(2).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val cores = GraftSession.localCores
    val b = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save() // warm-up (JIT+cache)
    // Each noop write runs its own QueryExecution, not df's: the plan that
    // ran (AQE's final decisions) is the timed write's, from its Trace.
    val (sec, trace) = Trace.measure(spark) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(trace.lastPlan.getOrElse("(no plan reported for the timed write)"))
    println(f"""{"query":"$name","sf":"$sfDir","sec":$sec%.3f}""")
    spark.stop()
  }
}
