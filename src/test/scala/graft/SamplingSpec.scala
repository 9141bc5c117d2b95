package graft

import graft.sampling.Sampling
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val ids = (1L to 10000L).toDF("id")
    .withColumn("stratum", when($"id" % 3 === 0, "a").otherwise("b"))

  test("deterministicSample keeps a stable, roughly-right fraction") {
    val s1 = Sampling.deterministicSample(ids, "id", 0.2)
      .select("id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.deterministicSample(ids, "id", 0.2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2)                              // reproducible
    assert(math.abs(s1.size - 2000) < 150, s1.size) // ~20%
    // monotone: a bigger fraction is a superset (same salt)
    val s3 = Sampling.deterministicSample(ids, "id", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s3))
  }

  test("stratifiedSample applies per-stratum fractions") {
    val out = Sampling.stratifiedSample(ids, "id", "stratum",
      Map("a" -> 0.1, "b" -> 0.5))
    val counts = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val aTotal = 10000 / 3
    val bTotal = 10000 - aTotal
    assert(math.abs(counts("a") - aTotal * 0.1) < aTotal * 0.06, counts)
    assert(math.abs(counts("b") - bTotal * 0.5) < bTotal * 0.06, counts)
  }

  test("capPerKey keeps k rows per key by the given ordering") {
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.8), ("a", 3L, 0.8), ("a", 4L, 0.1),
      ("b", 5L, 0.5)
    ).toDF("src", "id", "q")
    val kept = Sampling.capPerKey(df, "src", 2, $"q".desc, $"id")
      .select("id").collect().map(_.getLong(0)).toSet
    // tie at q=0.8 broken by id (2 beats 3); key b is under the cap
    assert(kept == Set(1L, 2L, 5L))
    // all original columns survive, helper rank column does not
    assert(Sampling.capPerKey(df, "src", 2, $"q".desc, $"id")
      .columns.toSeq == Seq("src", "id", "q"))
  }

  test("temperatureThresholds flatten toward the small keys") {
    val df = Seq(
      ("big", 1L, 9000L), ("mid", 2L, 1000L), ("small", 3L, 90L)
    ).toDF("src", "id", "n_tok")
    val thr = Sampling.temperatureThresholds(df, "src", "n_tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(thr("small") == 10000L)                  // min key keeps all
    assert(thr("mid") == 3000L)                     // sqrt(90/1000) = .3
    assert(thr("big") == 1000L)                     // sqrt(90/9000) = .1
    // alpha = 1 keeps the natural mixture (every threshold full)
    val nat = Sampling.temperatureThresholds(df, "src", "n_tok", alpha = 1.0)
      .collect().map(_.getLong(1))
    assert(nat.forall(_ == 10000L))
  }

  test("leakageSafeSplit keeps near-dup pairs in one split") {
    // id deliberately NOT the first column: the split must hand back the
    // caller's column order (the using-join hoists the key internally)
    val docs = (1L to 2000L).toDF("id")
      .select(($"id" % 7).as("meta"), $"id")
    // chain 1-2, 2-3 (one cluster), plus 10-11; everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("ida", "idb")
    val (train, eval) = Sampling.leakageSafeSplit(docs, "id", pairs, 0.3)
    assert(train.columns.toSeq == Seq("meta", "id"))
    assert(eval.columns.toSeq == Seq("meta", "id"))
    val t = train.select("id").collect().map(_.getLong(0)).toSet
    val e = eval.select("id").collect().map(_.getLong(0)).toSet
    assert((t & e).isEmpty && t.size + e.size == 2000)
    // the leakage property: no pair straddles the splits
    Seq(Set(1L, 2L, 3L), Set(10L, 11L)).foreach { cluster =>
      assert(cluster.subsetOf(t) || cluster.subsetOf(e),
        s"cluster $cluster split across train/eval")
    }
    // singletons fall back to the plain id-hash split (same salt)
    val (_, plainEval) = Sampling.trainEvalSplit(docs, "id", 0.3)
    val pe = plainEval.select("id").collect().map(_.getLong(0)).toSet
    val clustered = Set(1L, 2L, 3L, 10L, 11L)
    assert((e -- clustered) == (pe -- clustered))
  }

  test("tokenBudgetPerKey fills each key to the budget in order") {
    val df = Seq(
      // key a: ordered by id → cum before: 0, 300, 700 — id 3 starts at
      // 700 < 800 and overshoots (greedy fill), id 4 starts at 1200 ≥ 800
      ("a", 1L, 300L), ("a", 2L, 400L), ("a", 3L, 500L), ("a", 4L, 100L),
      // key b: entirely under budget
      ("b", 5L, 200L), ("b", 6L, 200L)
    ).toDF("src", "id", "n_tok")
    val kept = Sampling.tokenBudgetPerKey(df, "src", "n_tok", 800L, $"id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 5L, 6L))
    // helper cumsum column does not leak
    assert(Sampling.tokenBudgetPerKey(df, "src", "n_tok", 800L, $"id")
      .columns.toSeq == Seq("src", "id", "n_tok"))
    // a zero budget still keeps each key's first row? No — nothing
    // precedes the first row (0 < 0 is false), so it keeps none.
    assert(Sampling.tokenBudgetPerKey(df, "src", "n_tok", 0L, $"id")
      .count() == 0)
  }

  test("trainEvalSplit is disjoint, exhaustive, and append-stable") {
    val (train, eval) = Sampling.trainEvalSplit(ids, "id", 0.1)
    val t = train.select("id").collect().map(_.getLong(0)).toSet
    val e = eval.select("id").collect().map(_.getLong(0)).toSet
    assert((t & e).isEmpty)
    assert(t.size + e.size == 10000)
    assert(math.abs(e.size - 1000) < 120, e.size)
    // append stability: the same ids land in the same side on a superset
    val more = (1L to 20000L).toDF("id")
    val (_, eval2) = Sampling.trainEvalSplit(more, "id", 0.1)
    val e2 = eval2.select("id").collect().map(_.getLong(0)).toSet
    assert(e.subsetOf(e2))
  }

  test("weightedSamplePerKey: k per key, race winners match a reference window") {
    val docs = Seq(
      ("a", 1L, 100L), ("a", 2L, 5L), ("a", 3L, 400L), ("a", 4L, 50L),
      ("a", 5L, 900L), ("b", 6L, 10L), ("b", 7L, 10L), ("b", 8L, 10L)
    ).toDF("src", "id", "w")
    val got = Sampling.weightedSamplePerKey(docs, "src", "id", "w", k = 2,
      salt = "t")
    val rows = got.collect()
    assert(rows.count(_.getString(0) == "a") == 2)
    assert(rows.count(_.getString(0) == "b") == 2)
    // reference: same score via a plain window rank — winners must agree
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(lit("t:"), $"id".cast("string"))),
      1, 8), 16, 10).cast("long")
    val ref = docs.withColumn("score",
        round(-log((h + lit(1L)) / lit(4294967296.0)) / $"w".cast("double"), 9))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"score", $"id")))
      .filter($"rn" <= 2).select("id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(1)).toSet == ref)
  }

  test("weightedSamplePerKey favors heavy rows across salts") {
    // id 1 carries 10000x the weight of each of ids 2..40; across 30
    // different salts it must win a seat far more often than any peer
    val docs = ((1L, 10000L) +: (2L to 40L).map(_ -> 1L))
      .map { case (id, w) => ("k", id, w) }.toDF("src", "id", "w")
    val wins = (1 to 30).count { i =>
      Sampling.weightedSamplePerKey(docs, "src", "id", "w", k = 1,
        salt = s"s$i").collect()(0).getLong(1) == 1L
    }
    assert(wins >= 25, s"heavy row won only $wins/30 races")
  }

  test("GraftSession.local carries the posture configs and extensions") {
    // the shared test session is built by GraftSession.local
    val s = SparkTestSession.spark
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.extensions") ==
      "graft.functions.GraftExtensions")
    // the extensions are bound, not just named: a graft SQL function resolves
    val h = s.sql("SELECT simhash60(array('a')) AS h").collect()(0).getLong(0)
    assert(h >= 0L && h < (1L << 60))
  }
}
