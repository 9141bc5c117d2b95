package graft

import java.sql.Timestamp

/** q_tpch_q2_shape and q_tpch_q9_shape round money to cents. A value on a
  * half cent must round up exactly, as the DuckDB oracle does: computed in
  * doubles, 5.55 / 6 is 0.92499… and a profit of 2482.025 sums to
  * 2482.02499…, both of which round down.
  */
class TpchCentsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("tpch_cents").toString
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.parquet(s"$d/$name.parquet")
    write("region", Seq((0, "EUROPE")).toDF("r_regionkey", "r_name"))
    write("nation", Seq((1, "NATION_1", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    write("supplier", Seq((10L, "Supplier#10", 1, 100.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    // part 1 is q2's only ECONOMY offer; part 2 is q9's only '%red%' part
    write("part", Seq(
      (1L, "plain widget", "ECONOMY", 5, 10.0),
      (2L, "red widget", "SMALL", 20, 1023.52))
      .toDF("p_partkey", "p_name", "p_type", "p_size", "p_retailprice"))
    write("orders", Seq((100L, Timestamp.valueOf("1995-03-01 00:00:00")))
      .toDF("o_orderkey", "o_orderdate"))
    val ship = Timestamp.valueOf("1995-03-10 00:00:00")
    write("lineitem", Seq(
      // unit price 5.55 / 6 = 0.925
      (100L, 1L, 10L, 1, 6.0, 5.55, 0.0, 0.0, "N", "O", ship),
      // 4918.57·0.9 − 1023.52·19/10 = 2482.025
      (100L, 2L, 10L, 2, 19.0, 4918.57, 0.1, 0.0, "N", "O", ship))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"))
    d
  }

  test("q_tpch_q2_shape rounds a half-cent unit price up") {
    val rows = SparkEntry.queries("q_tpch_q2_shape")(spark, dir)
      .select("p_partkey", "min_cost").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 0.93)))
  }

  test("q_tpch_q9_shape rounds a half-cent profit up") {
    val rows = SparkEntry.queries("q_tpch_q9_shape")(spark, dir).collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq ==
      Seq(("NATION_1", 1995, 2482.03)))
  }
}
