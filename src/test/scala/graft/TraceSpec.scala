package graft

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions.col

/** Trace.measure: one listener per call, counting only its own window,
  * and gone again when the call returns or throws.
  */
class TraceSpec extends SparkSpecBase {

  test("a repartitioned count reports its jobs, its one action and its shuffle bytes") {
    val (n, c) = Trace.measure(spark)(spark.range(1000).repartition(4).count())
    assert(n == 1000)
    assert(c.jobs >= 1)
    assert(c.actions == 1)
    assert(c.shuffleWriteBytes > 0)
  }

  test("an outer window's jobs are the sum of its two nested windows' jobs") {
    val ((a, b), outer) = Trace.measure(spark) {
      val (_, a) = Trace.measure(spark)(spark.range(100).repartition(3).count())
      val (_, b) = Trace.measure(spark)(spark.range(100).collect())
      (a, b)
    }
    assert(a.jobs >= 1 && b.jobs >= 1)
    assert(outer.jobs == a.jobs + b.jobs)
  }

  test("a throwing body rethrows and leaves the listener lists as they were") {
    val before = GraftSqlBridge.listeners(spark)
    val e = intercept[IllegalStateException] {
      Trace.measure(spark) {
        spark.range(10).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(GraftSqlBridge.listeners(spark) == before)
  }

  test("lastPlan of a noop write is the final adaptive plan") {
    val df = spark.range(1000).repartition(4).groupBy(col("id") % 7).count()
    val (_, c) = Trace.measure(spark)(df.write.format("noop").mode("overwrite").save())
    assert(c.lastPlan.exists(_.contains("isFinalPlan=true")), c.lastPlan)
  }
}
