package graft

/** The extension-registered SQL functions must resolve and agree with
  * their Column-API twins. The shared test session is built through
  * GraftSession, so the extensions are bound on it.
  */
class GraftExtensionsSpec extends SparkSpecBase {

  test("vec_dot resolves in SQL and computes the dot product") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 11.0)
  }

  test("text functions resolve in SQL and match the Column API") {
    val r = spark.sql(
      """SELECT
        |  simhash60(array('alpha', 'beta')) AS sh,
        |  minhash_sig(array('a b', 'b c'), 4) AS mh,
        |  lsh_band_keys(array('a b', 'b c'), 2, 2) AS bk,
        |  word_shingles(array('a', 'b', 'c'), 2) AS ws,
        |  text_stats('the quick fox').n_tokens AS nt,
        |  deflate_ratio(repeat('lorem ipsum ', 50)) AS dr,
        |  winnow_fps(array('a','b','c','d','e','f','g','h'), 3, 4) AS wf
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60))
    assert(r.getSeq[String](1).length == 4)
    assert(r.getSeq[String](2).length == 2)
    assert(r.getSeq[String](3) == Seq("a b", "b c"))
    assert(r.getInt(4) == 3)
    assert(r.getDouble(5) > 0.0 && r.getDouble(5) < 0.2) // boilerplate collapses
    assert(r.getSeq[Long](6).nonEmpty && r.getSeq[Long](6).size <= 3) // 6 grams → ≤3 window mins
    // cross-check simhash vs the Column API
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val viaColumn = Seq("alpha beta").toDF("t")
      .select(graft.functions.TextHashExpressions.simhash60(
        graft.text.TextFunctions.tokens(col("t")))).collect()(0).getLong(0)
    assert(r.getLong(0) == viaColumn)
  }

  test("sign_lsh_band_keys resolves in SQL and matches the Column API") {
    val fromSql = spark.sql(
      "SELECT sign_lsh_band_keys(array(1.0d, -2.0d, 0.5d), 4, 3) AS k")
      .collect()(0).getSeq[String](0)
    assert(fromSql.length == 4 && fromSql.forall(_.length == 3))
    import spark.implicits._
    val fromCol = Seq(Seq(1.0, -2.0, 0.5)).toDF("v")
      .select(graft.functions.VectorExpressions
        .signLshBandKeys(org.apache.spark.sql.functions.col("v"), 4, 3).as("k"))
      .collect()(0).getSeq[String](0)
    assert(fromSql == fromCol)
  }

  test("sign_lsh_band_keys: a null ELEMENT yields null keys, not a fake key") {
    // a null slot reading as 0.0 would produce a plausible-looking but
    // arbitrary band key — any-null-in → null-out instead
    val r = spark.sql(
      "SELECT sign_lsh_band_keys(array(1.0d, cast(null as double)), 4, 3) AS k")
      .collect()(0)
    assert(r.isNullAt(0))
    // whole-null vector also null (UnaryExpression default null handling)
    val r2 = spark.sql(
      "SELECT sign_lsh_band_keys(cast(null as array<double>), 4, 3) AS k")
      .collect()(0)
    assert(r2.isNullAt(0))
  }

  test("random_project resolves in SQL and matches the Column API") {
    val fromSql = spark.sql(
      "SELECT random_project(array(1.0d, -2.0d, 0.5d), 4) AS p")
      .collect()(0).getSeq[Double](0)
    assert(fromSql.length == 4)
    import spark.implicits._
    val fromCol = Seq(Seq(1.0, -2.0, 0.5)).toDF("v")
      .select(graft.functions.VectorExpressions
        .randomProject(org.apache.spark.sql.functions.col("v"), 4).as("p"))
      .collect()(0).getSeq[Double](0)
    assert(fromSql == fromCol)
  }

  test("bpe functions resolve in SQL against the default merges table") {
    val r = spark.sql(
      """SELECT bpe_merge_count(array('spark', 'xyz')) AS n,
        |       bpe_merge_segment(array('spark', 'xyz')) AS p""".stripMargin)
      .collect()(0)
    assert(r.getInt(0) == 4) // spark (whole-word merge) + x, y, z
    assert(r.getSeq[String](1) == Seq("spark", "x", "y", "z"))
  }

  test("dedup verify primitives resolve in SQL: sorted_intersect_count, char_hist27, l1_dist") {
    val r = spark.sql(
      """SELECT
        |  sorted_intersect_count(array('a','b','d'), array('b','c','d')) AS ic,
        |  char_hist27('abba z') AS h,
        |  l1_dist(char_hist27('abc'), char_hist27('abd')) AS d
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) == 2) // {b, d}
    val h = r.getSeq[Int](1)
    assert(h.length == 27 && h(0) == 2 && h(1) == 2 && h(25) == 1 &&
      h(26) == 1) // a=2 b=2 z=1 space=1
    assert(r.getInt(2) == 2) // c vs d: one char each direction
  }

  test("integer parameters must be literals") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('x'), CAST(rand()*4 AS INT))")
        .collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      e.getMessage.contains("minhash_sig"))
  }
}
