package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IVFPQ OPERATING-CURVE probe (round 16, VERDICT r15 #4): recall@10
  * versus (nprobe, rerank) at the 100× embeddings fixture — the curve a
  * user tuning nprobe actually needs. The recall evidence for the
  * sub-exhaustive path previously lived only in PqSpec at fixture scale
  * (recall floors on a few hundred vectors); q_ann_ivfpq_scaled keeps
  * the path on the bench trend but is rows-only by design. This probe
  * closes the gap with MEASURED points: ground truth from the exact
  * brute-force ranker, then one (nprobe × rerank) sweep against a
  * FIT-ONCE index (graft.similarity.Pq.topKIvfPqIndexed — quantizers
  * trained once, index encoded once, every sweep point reuses both,
  * exactly the production posture where the index is maintained
  * incrementally and only the probe knobs move per query class).
  *
  * Output: one JSON line with the full grid —
  * {"metric":"ann_probe", "n_corpus":…, "n_queries":…, "nlist":…,
  *  "sec_truth":…, "grid":[{"nprobe":…,"rerank":…,"recall_at_10":…,
  *  "sec":…},…]} — also written to $SPARK_GRAFT_ANN_OUT (default
  * ann_probe_last.json). Knobs: SPARK_GRAFT_ANN_DIR (fixture dir,
  * default /tmp/sf10e), SPARK_GRAFT_ANN_QUERIES (default 100),
  * SPARK_GRAFT_ANN_NLIST (default 64).
  */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_ANN_DIR", "/tmp/sf10e")
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_ANN_QUERIES", "100").toInt
    val nlist = sys.env.getOrElse("SPARK_GRAFT_ANN_NLIST", "64").toInt
    val spark = GraftSession.local()

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val corpus = graft.operators.Artifacts.pinEager(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"),
          transform(col("embedding"), _.cast("double")).as("vec")),
      "annprobe.corpus")
    val nCorpus = corpus.count()
    // deterministic query set: the first ids of the BASE replica (the
    // scaled fixture offsets replicas by 10^8, so id < nQueries always
    // selects base-replica vectors)
    val queries = graft.operators.Artifacts.pinEager(
      corpus.filter(col("id") < nQueries), "annprobe.queries")
    val k = 10

    // ground truth: the exact ranker (round-6 cosine, id tiebreak —
    // the same determinism contract as every top-k operator here)
    val (truth, tTruth) = timed(graft.operators.Artifacts.pinEager(
      graft.similarity.VectorOps.topKBruteForce(queries, corpus, k)
        .select("qid", "vec_id"), "annprobe.truth"))
    val nTruth = truth.count()

    // fit ONCE; the sweep moves only the probe knobs
    val (cents, tFitC) = timed(graft.similarity.Ivf.kmeansFit(corpus, nlist))
    val (books, tFitB) = timed(
      graft.similarity.Pq.fitCodebooks(corpus, m = 8, ksub = 16))
    val (codes, tEncode) = timed(graft.operators.Artifacts.pinEager(
      graft.similarity.Pq.encode(corpus, books).select(col("id"), col("code"))
        .join(graft.similarity.Ivf.assignCells(corpus, cents)
          .select("id", "cell"), "id")
        .select(col("id").as("cid_"), col("cell"), col("code")),
      "annprobe.codes"))

    def recallOf(approx: DataFrame): Double = {
      val hits = approx.select("qid", "vec_id")
        .join(truth, Seq("qid", "vec_id"), "left_semi").count()
      hits.toDouble / nTruth
    }

    val grid = for {
      nprobe <- Seq(1, 2, 4, 8, 16)
      rerank <- Seq(64, 256, 1024)
    } yield {
      val (r, sec) = timed(recallOf(
        graft.similarity.Pq.topKIvfPqIndexed(queries, codes, corpus,
          cents, books, k, nprobe = nprobe, rerank = rerank)))
      System.err.println(
        f"ANNPROBE nprobe=$nprobe%2d rerank=$rerank%4d recall@10=$r%.4f " +
          f"sec=$sec%.2f")
      (nprobe, rerank, r, sec)
    }

    def r2(x: Double) = math.round(x * 100) / 100.0
    def r4(x: Double) = math.round(x * 10000) / 10000.0
    val gridJson = grid.map { case (np, rr, rec, sec) =>
      s"""{"nprobe":$np,"rerank":$rr,"recall_at_10":${r4(rec)},"sec":${r2(sec)}}"""
    }.mkString("[", ",", "]")
    val line =
      s"""{"metric":"ann_probe","dir":"$dir","n_corpus":$nCorpus,""" +
        s""""n_queries":$nQueries,"k":$k,"nlist":$nlist,""" +
        s""""sec_truth":${r2(tTruth)},"sec_fit_centroids":${r2(tFitC)},""" +
        s""""sec_fit_codebooks":${r2(tFitB)},"sec_encode":${r2(tEncode)},""" +
        s""""grid":$gridJson}"""
    println(line)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_ANN_OUT",
      "ann_probe_last.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), line + "\n")
    catch { case t: Throwable =>
      System.err.println(s"ANNPROBE: could not write $outFile: ${t.getMessage}")
    }
    val released = graft.operators.Artifacts.releaseAll(spark)
    System.err.println(s"ANNPROBE released $released pinned artifacts")
    spark.stop()
  }
}
