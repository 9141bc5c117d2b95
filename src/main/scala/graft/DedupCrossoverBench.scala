package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev measurement main for the exact-jaccard crossover: naive inverted
  * index (`jaccardPairs(maxShingleFreq = 0)`) vs the lossless prefix
  * filter (`jaccardPairsPrefix`) on a scaled corpus.
  *
  * At sf0.1 the two bench within run-to-run noise — the prefix filter's
  * pruning only pays once posting lists are long enough that candidate
  * generation dominates verification. This main scales the corpus
  * `reps`× by unioning deterministic word-order permutations of every
  * document (replica r sorts tokens by md5(tok:pos:r)): same vocabulary
  * and Zipf shape, so per-shingle document frequency grows ~reps× and
  * the naive self-join's candidate volume ~reps²× while the true-pair
  * set stays sparse — exactly the regime the 100-TB posture cares
  * about. Both paths run on the same materialized parquet input
  * (lineage excluded), best-of-`rounds` wall-clock each, and must
  * return identical pair counts (the filter is lossless).
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.DedupCrossoverBench
  *   [reps] [rounds]; prints one JSON line.
  */
object DedupCrossoverBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(10)
    val rounds = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val spark = GraftSession.local()

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val big = (0 until reps).map { r =>
      if (r == 0) docs
      else docs.select((col("doc_id") + r * 10000000L).as("doc_id"),
        ScaledFixture.permuteText(col("text"), r).as("text"))
    }.reduce(_ unionAll _)
    val path = s"/tmp/crossover_corpus_${reps}x.parquet"
    big.write.mode("overwrite").parquet(path)
    val corpus = spark.read.parquet(path)
    val nDocs = corpus.count()

    def best(f: => Long): (Double, Long) = {
      var bestSec = Double.MaxValue; var rows = 0L
      for (_ <- 0 until rounds) {
        val t0 = System.nanoTime()
        rows = f
        bestSec = math.min(bestSec, (System.nanoTime() - t0) / 1e9)
      }
      (bestSec, rows)
    }
    val (naiveSec, naivePairs) = best(
      Dedup.jaccardPairs(corpus, "text", "doc_id", threshold = 0.8,
        maxShingleFreq = 0).count())
    val (prefixSec, prefixPairs) = best(
      Dedup.jaccardPairsPrefix(corpus, "text", "doc_id",
        threshold = 0.8).count())
    require(naivePairs == prefixPairs,
      s"prefix filter lost pairs: $naivePairs vs $prefixPairs")
    println(s"""{"n_docs":$nDocs,"reps":$reps,"pairs":$naivePairs,""" +
      s""""naive_sec":${math.round(naiveSec * 100) / 100.0},""" +
      s""""prefix_sec":${math.round(prefixSec * 100) / 100.0},""" +
      s""""speedup":${math.round(naiveSec / prefixSec * 100) / 100.0}}""")
    spark.stop()
  }
}
