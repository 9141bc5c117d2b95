package graft


/** Dev measurement main: time a subset of SparkEntry.queries by name
  * without paying for the full bench sweep. Each named query runs one
  * untimed warm-up pass (codegen compile + page cache) then `rounds`
  * timed passes to a noop sink; prints min/median per query.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.TimeQuery q_a q_b [--rounds=3]
  */
object TimeQuery {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = args.collectFirst {
      case a if a.startsWith("--rounds=") => a.stripPrefix("--rounds=").toInt
    }.getOrElse(3)
    val names = args.filterNot(_.startsWith("--"))
    require(names.nonEmpty, "usage: TimeQuery <query name>... [--rounds=N]")
    val spark = GraftSession.local()

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name (see SparkEntry.queries)"))
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up, untimed
      val times = (1 to rounds).map(_ => once()).sorted
      println(f"TIMEQUERY $name%-32s min=${times.head}%6.3f " +
        f"median=${times(times.size / 2)}%6.3f n=$rounds%d")
    }
    spark.stop()
  }
}
