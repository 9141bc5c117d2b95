package graft.similarity

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev measurement main for the ANN ranking-tail crossover: the old
  * per-query `row_number().over(Window.partitionBy("qid"))` formulation
  * vs the `Ranking.topKRanked` bounded-heap tail (TopKPerKey prune +
  * ≤k-element sort_array rank) that replaced it in round 7.
  *
  * Methodology mirrors DedupCrossoverBench: the subject is the TAIL, so
  * the scored candidate frame (qid, id, score) is MATERIALIZED to parquet
  * first and both formulations consume the identical input — scoring cost
  * (the cosine cross join) is excluded by construction. The base frame is
  * real: 64 fixture query vectors brute-force-cosine-scored against the
  * whole embeddings fixture (the same scored shape `topKBruteForce` and
  * `topKPq` feed their tails — IVF/IVFPQ differ only in candidate COUNT
  * per query, which is exactly the axis `reps` scales). Replica r offsets
  * candidate ids by r·10⁸ and perturbs scores by a deterministic
  * per-(qid,id,r) hash epsilon (±5·10⁻⁷: large enough that ranks are
  * decided by score, small enough to preserve the cosine distribution),
  * so per-query candidates grow reps× while both paths stay bit-identical
  * — the bench REQUIRES equal (qid, rn, id) sets before reporting.
  *
  * What the numbers mean at 100 TB: the window path funnels each query's
  * whole candidate stream through ONE task and fully sorts it before
  * discarding all but k rows — per-task work grows linearly with corpus
  * (and spills past memory), while the heap path's shuffle stays
  * k·keys·partitions regardless of candidate volume. The crossover table
  * in BASELINE.md records where that diverges on this box.
  *
  * The query-count axis matters as much as candidate volume: the window
  * path's parallelism is AT MOST the number of distinct queries (one
  * task per qid), so few queries × deep candidate streams — precisely
  * the online-serving / re-rank shape — leaves the cluster idle while
  * single tasks sort. `nQueries` is the first argument to let the table
  * show both regimes.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.similarity.RankingCrossoverBench
  *   [nQueries] [reps…] (default 64; 1 10 20); prints one JSON line.
  */
object RankingCrossoverBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nQueries = args.headOption.map(_.toInt).getOrElse(64)
    val repsList =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10, 20)
    val rounds = 3
    val k = 10
    val spark = graft.GraftSession.local()

    // base scored frame: 64 real query vectors × whole fixture corpus,
    // the exact cosine the ANN operators compute (rounded like pairCos)
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val nrm = emb.withColumn("nrm",
      sqrt(aggregate(transform(col("vec"), x => x * x), lit(0.0), _ + _)))
    val q = nrm.filter(col("vec_id") % 31 === 0).limit(nQueries)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"),
        col("nrm").as("qnrm"))
    val base = q.hint("broadcast")
      .join(nrm, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("id"),
        round(VectorOps.dot(col("qvec"), col("vec")) /
          (col("qnrm") * col("nrm")), 6).as("score"))

    def timed(f: => Unit): Double = {
      var best = Double.MaxValue
      for (_ <- 0 until rounds) {
        val t0 = System.nanoTime()
        f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      best
    }

    val cells = repsList.map { reps =>
      // constant-size plan whatever `reps` is: replica index arrives as a
      // crossJoin with range(reps), not a reps-way union (a 1000-branch
      // union plan would be its own bottleneck)
      val scaled = base.crossJoin(
          spark.range(reps).select(col("id").as("__r")))
        .select(col("qid"),
          (col("id") + col("__r") * 100000000L).as("id"),
          when(col("__r") === 0, col("score"))
            .otherwise(col("score") +
              (pmod(xxhash64(col("qid"), col("id"), col("__r")),
                lit(1000L)) - 500L).cast("double") * 1e-9).as("score"))
      val path = s"/tmp/ranking_scored_q${nQueries}_${reps}x.parquet"
      scaled.write.mode("overwrite").parquet(path)
      val scored = spark.read.parquet(path)
      val nRows = scored.count()

      val winDf = scored.withColumn("rn", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("score").desc, col("id").asc)))
        .filter(col("rn") <= k)
        .select("qid", "rn", "id", "score")
      val heapDf = Ranking.topKRanked(scored, "qid", "score", "id", k)
        .select("qid", "rn", "id", "score")

      val winKeys = winDf.select("qid", "rn", "id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val heapKeys = heapDf.select("qid", "rn", "id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      require(winKeys == heapKeys,
        s"tail formulations diverged at reps=$reps: " +
          s"${(winKeys -- heapKeys).take(3)} vs ${(heapKeys -- winKeys).take(3)}")

      val winSec = timed(
        winDf.write.format("noop").mode("overwrite").save())
      val heapSec = timed(
        heapDf.write.format("noop").mode("overwrite").save())
      s"""{"reps":$reps,"n_scored":$nRows,""" +
        s""""window_sec":${math.round(winSec * 1000) / 1000.0},""" +
        s""""topk_sec":${math.round(heapSec * 1000) / 1000.0},""" +
        s""""speedup":${math.round(winSec / heapSec * 100) / 100.0}}"""
    }
    println(s"""{"k":$k,"n_queries":$nQueries,"cells":[${cells.mkString(",")}]}""")
    spark.stop()
  }
}
