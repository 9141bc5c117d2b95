package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev measurement main for the fuzzy-dedup band-population guard: the
  * ADVERSARIAL corpus shape `editDistancePairs(maxBandPop)` exists for —
  * every document the same length, so ONE length band holds the whole
  * corpus and the lossless within-band equi-join is corpus² candidate
  * pairs on a single shuffle key (not just quadratic work: ONE task,
  * because the band join key has a single value).
  *
  * Corpus: fixture documents word-permuted per replica (same trick as
  * DedupCrossoverBench), then truncated+padded to exactly 200 chars —
  * all rows land in band floor(200/(maxDist+1)). Planted duplicate
  * clusters in the fixture survive truncation as distance-0 pairs, so
  * the true-pair set is non-empty and recall is measurable.
  *
  * Two routes, same operator call:
  *  - exact:   `maxBandPop = 0` — guard off, lossless length-band join;
  *  - guarded: default `maxBandPop` — above the bound the operator
  *    reroutes candidates through MinHash-LSH banding
  *    (`lshCandidates` → `editDistanceVerify`), linear shuffle.
  * At 1× (fixture size < maxBandPop) the guard does NOT engage and both
  * routes time the same join — the table shows the contract switching
  * on, not a fixed rewrite. Recall is computed on collected pair SETS
  * (result sizes here are driver-safe), not assumed from the S-curve.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.FuzzyCrossoverBench
  *   [reps…] (default 1 3 6); prints one JSON line.
  */
object FuzzyCrossoverBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val repsList = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 3, 6)
    val maxDist = 8
    val spark = GraftSession.local()

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")

    def timedPairs(df: => DataFrame): (Double, Set[(Long, Long)]) = {
      val t0 = System.nanoTime()
      val pairs = df.select("ida", "idb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      ((System.nanoTime() - t0) / 1e9, pairs)
    }

    val cells = repsList.map { reps =>
      val big = (0 until reps).map { r =>
        if (r == 0) docs
        else docs.select((col("doc_id") + r * 10000000L).as("doc_id"),
          ScaledFixture.permuteText(col("text"), r).as("text"))
      }.reduce(_ unionAll _)
        // exactly 200 chars each => ONE length band for the whole corpus
        .select(col("doc_id"),
          rpad(substring(col("text"), 1, 200), 200, " ").as("text"))
      val path = s"/tmp/fuzzy_band_corpus_${reps}x.parquet"
      big.write.mode("overwrite").parquet(path)
      val corpus = spark.read.parquet(path)
      val nDocs = corpus.count()

      val (exactSec, exactPairs) = timedPairs(
        Dedup.editDistancePairs(corpus, "text", "doc_id", maxDist,
          maxBandPop = 0))
      val (guardSec, guardPairs) = timedPairs(
        Dedup.editDistancePairs(corpus, "text", "doc_id", maxDist))
      val recall =
        if (exactPairs.isEmpty) 1.0
        else (guardPairs & exactPairs).size.toDouble / exactPairs.size
      s"""{"reps":$reps,"n_docs":$nDocs,""" +
        s""""exact_sec":${math.round(exactSec * 100) / 100.0},""" +
        s""""guarded_sec":${math.round(guardSec * 100) / 100.0},""" +
        s""""exact_pairs":${exactPairs.size},""" +
        s""""guarded_pairs":${guardPairs.size},""" +
        s""""recall":${math.round(recall * 10000) / 10000.0},""" +
        s""""speedup":${math.round(exactSec / guardSec * 100) / 100.0}}"""
    }
    println(s"""{"max_dist":$maxDist,"cells":[${cells.mkString(",")}]}""")
    spark.stop()
  }
}
