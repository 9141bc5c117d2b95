package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

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
    // Each noop write runs its own QueryExecution, not df's: the plan that
    // ran (AQE's final decisions) comes from the listener, asynchronously.
    val writes = new java.util.concurrent.LinkedBlockingQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec])
          writes.put(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save() // warm-up (JIT+cache)
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    writes.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    println(Option(writes.poll(60, java.util.concurrent.TimeUnit.SECONDS))
      .getOrElse("(no plan reported for the timed write)"))
    println(f"""{"query":"$name","sf":"$sfDir","sec":$sec%.3f}""")
    spark.stop()
  }
}
