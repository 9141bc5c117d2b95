package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The optimizer rule must rewrite the window top-k idiom onto the
  * bounded-heap operator exactly when the rank column is discarded.
  */
class TopKRewriteSpec extends SparkSpecBase {

  // the rewrite is opt-in per ADVICE (memory-profile change): enable it
  // on a child session so the shared session's conf stays untouched
  private lazy val extSpark: SparkSession = {
    val s = spark.newSession()
    s.conf.set(graft.plans.TopKPerKey.RewriteEnabledKey, "true")
    s
  }

  test("malformed enable value warns and stays disabled, queries keep working") {
    val s = spark.newSession()
    s.conf.set(graft.plans.TopKPerKey.RewriteEnabledKey, "yes")
    // the rule runs on EVERY plan — a bad knob value must not become a
    // session-wide query failure
    val plan = topkIdiom(s, keepRn = false)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Window"), "malformed conf silently ENABLED the rewrite")
    import s.implicits._
    assert(Seq(1, 2, 3).toDF("x").count() == 3) // unrelated query unaffected
  }

  test("rewrite is off by default (opt-in conf)") {
    val plan = topkIdiom(spark, keepRn = false)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Window"), "rewrite fired without the conf")
  }

  private def topkIdiom(s: SparkSession, keepRn: Boolean): DataFrame = {
    import s.implicits._
    val df = (1 to 500).map(i => (i % 7, i.toLong)).toDF("g", "v")
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("g"))
    val ranked = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    if (keepRn) ranked.select("g", "v", "rn") else ranked.select("g", "v")
  }

  test("row_number()<=k with discarded rank becomes TopKPerKey") {
    val plan = topkIdiom(extSpark, keepRn = false)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("TopKPerKeyPlan") || plan.contains("TopKPerKey"),
      plan.take(800))
    assert(!plan.contains("Window"), "window survived the rewrite")
  }

  test("rewrite preserves results") {
    val viaExt = topkIdiom(extSpark, keepRn = false)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val viaPlain = topkIdiom(spark, keepRn = false)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(viaExt == viaPlain)
  }

  test("rank column escaping blocks the rewrite") {
    val plan = topkIdiom(extSpark, keepRn = true)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Window"), "rewrite fired though rn escapes")
  }
}
