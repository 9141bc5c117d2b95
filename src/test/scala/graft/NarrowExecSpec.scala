package graft

import graft.operators.NarrowExec

/** Narrow child sessions: AQE off + the loop's width, on top of the
  * caller's own runtime SQL confs, without touching the caller's session.
  */
class NarrowExecSpec extends SparkSpecBase {

  test("a narrow child keeps the caller's runtime confs; the parent keeps AQE") {
    val p = spark.newSession()
    p.conf.set("spark.sql.caseSensitive", "true")
    val c = NarrowExec.session(p, 3)
    assert(c.conf.get("spark.sql.caseSensitive") == "true",
      "the caller's runtime conf was dropped in the narrow child")
    assert(c.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(c.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(p.conf.get("spark.sql.adaptive.enabled") == "true",
      "narrowing must not switch AQE off on the caller's session")
  }

  test("a query run in the narrow child obeys the caller's ANSI setting") {
    val p = spark.newSession()
    p.conf.set("spark.sql.ansi.enabled", "false")
    val c = NarrowExec.session(p, 2)
    // ANSI off: division by zero is NULL instead of an error
    assert(c.sql("SELECT 1 / 0 AS q").head().isNullAt(0))
  }

  test("children are memoized per conf snapshot and never mutated") {
    val p = spark.newSession()
    p.conf.set("spark.sql.caseSensitive", "false")
    val c1 = NarrowExec.session(p, 3)
    assert(NarrowExec.session(p, 3) eq c1, "same confs must reuse the child")
    p.conf.set("spark.sql.caseSensitive", "true")
    val c2 = NarrowExec.session(p, 3)
    assert(c2 ne c1, "a changed parent conf must get a fresh child")
    assert(c2.conf.get("spark.sql.caseSensitive") == "true")
    assert(c1.conf.get("spark.sql.caseSensitive") == "false",
      "a memoized child's conf changed after creation")
    assert(NarrowExec.session(p, 4) ne c2, "width is part of the key")
  }
}
