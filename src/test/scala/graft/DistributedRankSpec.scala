package graft

import graft.operators.DistributedRank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase distributed ranking: global per-key positions and the
  * rank-family functions derived from them must match the plain
  * `Window.partitionBy(key)` formulation bit-for-bit (the cliff they
  * replace), across keys that straddle range-partition boundaries.
  */
class DistributedRankSpec extends SparkSpecBase {
  import spark.implicits._

  private def windowFamily(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("k"))
      .orderBy(col("v").desc, col("id"))
    val wFull = w.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    df.select(col("k"), col("id"), col("v"),
      row_number().over(w).as("pos_w"),
      ntile(4).over(w).as("q_w"),
      round(percent_rank().over(w), 6).as("pr_w"),
      round(cume_dist().over(w), 6).as("cd_w"),
      nth_value(col("v"), 2).over(wFull).as("nv_w"))
  }

  private def derivedFamily(df: org.apache.spark.sql.DataFrame,
                            numPartitions: Int) = {
    val pos = DistributedRank.withPositions(df, "k",
      Seq(col("v").desc, col("id")), numPartitions)
    val second = pos.filter(col("pos") === 2)
      .select(col("k").as("__k2"), col("v").as("nv_d"))
    pos.join(broadcast(second), col("k") === col("__k2"), "left")
      .select(col("k"), col("id"), col("v"),
        col("pos").cast("int").as("pos_d"),
        DistributedRank.ntileFromPos(4).as("q_d"),
        round(when(col("n") > 1,
          (col("pos") - 1).cast("double") / (col("n") - 1))
          .otherwise(0.0), 6).as("pr_d"),
        round(col("pos").cast("double") / col("n"), 6).as("cd_d"))
  }

  // keys of very different sizes (1, 2, n<4, n%4 != 0 and a large one
  // spanning several of the 7 range partitions), interleaved values
  private lazy val fixture = {
    val rows = Seq((0L, "solo", 10.0), (1L, "pair", 5.0), (2L, "pair", 7.0)) ++
      (0L until 3L).map(i => (10 + i, "three", (i * 13 % 7).toDouble)) ++
      (0L until 101L).map(i => (100 + i, "big", (i * 37 % 53).toDouble))
    rows.toDF("id", "k", "v")
  }

  test("withPositions matches row_number across partition-straddling keys") {
    for (p <- Seq(1, 7)) {
      val got = derivedFamily(fixture, p)
        .select("k", "id", "pos_d").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      val want = windowFamily(fixture)
        .select("k", "id", "pos_w").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(got == want, s"global positions diverged at numPartitions=$p")
    }
  }

  test("derived ntile/percent_rank/cume_dist/nth_value equal the window forms") {
    val d = derivedFamily(fixture, 7).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getInt(3), r.getInt(4), r.getDouble(5), r.getDouble(6)))).toMap
    val w = windowFamily(fixture).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getInt(3), r.getInt(4), r.getDouble(5), r.getDouble(6)))).toMap
    // compare (pos, ntile, pct_rank, cume); nth_value separately (nullable)
    assert(d.keySet == w.keySet)
    val diff = d.keys.filter(key => d(key) != w(key))
    assert(diff.isEmpty, s"family diverged: " +
      diff.take(3).map(key => s"$key d=${d(key)} w=${w(key)}").mkString("; "))
  }

  test("nth_value(2): present for n>=2 keys, null for singletons") {
    val pos = DistributedRank.withPositions(fixture, "k",
      Seq(col("v").desc, col("id")), 7)
    val second = pos.filter(col("pos") === 2)
      .select(col("k").as("__k2"), col("v").as("nv"))
    val nv = pos.join(broadcast(second), col("k") === col("__k2"), "left")
      .select(col("k"), col("id"), col("nv")).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val want = windowFamily(fixture).select("k", "id", "nv_w").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(nv == want)
  }

  test("q_window_rank_family derived form equals the plain window form") {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wFull = w.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val want = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        nth_value(col("o_totalprice"), 2).over(wFull).as("second_highest"))
      .orderBy("o_orderpriority", "o_orderkey")
    val got = graft.queries.AnalyticQueries
      .queries("q_window_rank_family")(spark, sfDir)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)),
      s"schema drift: ${got.schema} vs ${want.schema}")
    val a = got.collect().map(_.toSeq)
    val b = want.collect().map(_.toSeq)
    assert(a.length == b.length)
    val bad = a.zip(b).zipWithIndex.filter { case ((x, y), _) => x != y }
    assert(bad.isEmpty,
      s"rows diverged: ${bad.take(2).map { case ((x, y), i) => s"#$i $x vs $y" }.mkString("; ")}")
  }

  test("reserved input columns are rejected at the API edge") {
    val bad = Seq((1L, "a", 2L)).toDF("id", "k", "pos")
    val e = intercept[IllegalArgumentException] {
      DistributedRank.withPositions(bad, "k", Seq(col("id")))
    }
    assert(e.getMessage.contains("pos"), e.getMessage)
    // the global variant additionally claims __gkey
    val e2 = intercept[IllegalArgumentException] {
      DistributedRank.globalPositions(
        Seq((1L, 2L)).toDF("id", "__gkey"), Seq(col("id")))
    }
    assert(e2.getMessage.contains("__gkey"), e2.getMessage)
    // case-insensitive, like Spark's default column resolution
    intercept[IllegalArgumentException] {
      DistributedRank.withPositions(
        Seq((1L, "a", 2L)).toDF("id", "k", "N"), "k", Seq(col("id")))
    }
  }

  test("index tiling check rejects a gapped run and a partition past 2^33") {
    // (pid, st, c): partition 0 tiles 0..5 with two keys, partition 1
    // with one — the shape withPositions collects
    DistributedRank.checkIndexTiling(Seq((0, 0L, 2L), (0, 2L, 4L), (1, 0L, 3L)))
    val gap = intercept[IllegalStateException] {
      DistributedRank.checkIndexTiling(Seq((0, 0L, 2L), (3, 0L, 2L), (3, 3L, 1L)))
    }
    assert(gap.getMessage.contains("partition 3"), gap.getMessage)
    val late = intercept[IllegalStateException] {
      DistributedRank.checkIndexTiling(Seq((2, 1L, 4L)))
    }
    assert(late.getMessage.contains("partition 2"), late.getMessage)
    val wide = intercept[IllegalStateException] {
      DistributedRank.checkIndexTiling(
        Seq((5, 0L, DistributedRank.IndexLimit - 1), (5, DistributedRank.IndexLimit - 1, 1L)))
    }
    assert(wide.getMessage.contains("partition 5") &&
      wide.getMessage.contains("33-bit"), wide.getMessage)
  }
}
