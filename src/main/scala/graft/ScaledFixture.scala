package graft

import graft.text.TextFunctions.tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev main: derive a `reps`×-scaled copy of a driver fixture dir, for
  * super-linearity hunting above the largest shipped scale factor (the
  * sf0.1→sf0.3 bench table in BASELINE.md). TPC-H-style scaling rules:
  *
  *  - region/nation copy unscaled (fixed-cardinality dims — they do not
  *    grow with sf in TPC-H either);
  *  - customer/supplier/part/orders/lineitem/events replicate with key
  *    offsets (replica r adds r·10⁸ to every PRIMARY and FOREIGN key of
  *    a scaled table) so join fan-outs stay constant: replica-r lineitem
  *    joins replica-r orders/part/supplier, never across replicas —
  *    per-key group sizes and join selectivities match a genuinely
  *    bigger corpus instead of tripling every group;
  *  - documents replicate with WORD-PERMUTED text (replica r sorts
  *    tokens by md5(tok:pos:r), the trick behind BASELINE.md's round-7
  *    prefix-filter crossover table): same
  *    vocabulary and Zipf shape, but replicas are not exact/near dups of
  *    their originals, so dedup-family candidate structure grows the way
  *    a larger real corpus grows, not as planted duplicate clusters;
  *  - embeddings replicate with per-element deterministic jitter
  *    (±0.05·hash-uniform): vector distribution is preserved while
  *    replicas don't sit exactly on their originals.
  *
  * This is BENCH tooling — outputs feed SPARK_GRAFT_SF_DIR for timing
  * runs, never the correctness oracle (fixture content semantics like
  * n_chars-vs-permuted-text drift are fine for wall-clock, not for
  * hashes).
  *
  * Usage: runMain graft.ScaledFixture [reps] [srcDir] [outDir] [tables] [mode]
  *   (defaults 3, /root/testdata/sf0.1, /tmp/sf0.3, all tables, permute)
  *   mode "permute" (default): fixed vocabulary, word-permuted replicas;
  *   mode "diversify": [[diversifyText]] — vocabulary and canonical set
  *   grow with reps (the production-regime dedup probes).
  */
object ScaledFixture {
  private val Off = 100000000L

  /** Replica r's deterministic word permutation of `textCol`: tokens
    * sorted by md5(tok:pos:r) and re-joined — same vocabulary and Zipf
    * shape, different shingle sets, so replicas read as MORE corpus, not
    * as planted duplicates. The ONE definition behind ScaledFixture and
    * BASELINE.md's round-7 prefix-filter crossover and round-8 fuzzy-dedup
    * band-population tables (a drifted copy would silently make their
    * scale tables incomparable).
    */
  def permuteText(textCol: org.apache.spark.sql.Column, r: Int):
      org.apache.spark.sql.Column = {
    val keyed = transform(tokens(textCol), (t, i) => struct(
      md5(concat_ws(":", t, i.cast("string"), lit(r))).as("k"),
      t.as("t")))
    array_join(transform(array_sort(keyed), x => x("t")), " ")
  }

  /** VOCABULARY-GROWING variant (mode "diversify"): permute like
    * [[permuteText]], and additionally remap ~1/5 of the base vocabulary
    * to a replica-tagged variant (`tok` → `tokxR` when md5(tok:R) picks
    * it — keyed on (token, replica) so the remap is consistent within a
    * replica, like real corpus drift coining new words). Consequences,
    * and the reason this mode exists (round-10 verdict): every replica's
    * token BAG is distinct, so the canonical set after exact-bag dedup
    * GROWS ∝ reps instead of staying fixed at the base corpus — the
    * production regime where near-dup cost must be bounded by bucket/df
    * structure, not by a constant canonical set; distinct vocabulary
    * (and so shingle/df tables, simhash bit votes, BM25 df) grows with
    * scale too. Zipf SHAPE is preserved per replica (the remap is a
    * rename, not a re-draw). md5-keyed like everything else so the
    * fixture is bit-reproducible.
    */
  def diversifyText(textCol: org.apache.spark.sql.Column, r: Int):
      org.apache.spark.sql.Column = {
    val keyed = transform(tokens(textCol), (t, i) => struct(
      md5(concat_ws(":", t, i.cast("string"), lit(r))).as("k"),
      when(substring(md5(concat_ws(":", t, lit(r))), 1, 1).isin("0", "1", "2"),
        concat(t, lit("x"), lit(r.toString))).otherwise(t).as("t")))
    array_join(transform(array_sort(keyed), x => x("t")), " ")
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val src = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(2).getOrElse("/tmp/sf0.3")
    val spark = GraftSession.local()

    def rep(df: DataFrame)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(r => if (r == 0) df else remap(df, r))
        .reduce(_ unionByName _)

    def shiftKeys(keys: String*)(df: DataFrame, r: Int): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * Off)))

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaled] $name -> $out/$name.parquet")
    }

    def load(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // Optional 4th arg: comma list restricting which tables are derived
    // (e.g. "part,lineitem" for a 100× q14-flip fixture — deriving the
    // documents permutation at 100× would dominate generation time for
    // tables the run never reads). Default: all.
    val tables = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Validate the mode BEFORE the first write: an invalid 5th arg must
    // abort up front, not after seven tables of a partial fixture landed.
    val mode = args.lift(4).getOrElse("permute")
    require(mode == "permute" || mode == "diversify",
      s"ScaledFixture: unknown mode '$mode' (permute | diversify)")
    def wanted(name: String) = tables.forall(_.contains(name))
    def writeIf(name: String, df: => DataFrame): Unit =
      if (wanted(name)) write(name, df)

    writeIf("region", load("region"))
    writeIf("nation", load("nation"))
    writeIf("customer", rep(load("customer"))(shiftKeys("c_custkey")))
    writeIf("supplier", rep(load("supplier"))(shiftKeys("s_suppkey")))
    writeIf("part", rep(load("part"))(shiftKeys("p_partkey")))
    writeIf("orders", rep(load("orders"))(shiftKeys("o_orderkey", "o_custkey")))
    writeIf("lineitem", rep(load("lineitem"))(
      shiftKeys("l_orderkey", "l_partkey", "l_suppkey")))
    writeIf("events", rep(load("events"))(shiftKeys("event_id", "user_id")))
    // Optional 6th arg "templates=N" (round 16): APPEND N near-copies of
    // one template document — each copy carries a unique marker token so
    // it survives BAG-exact dedup (distinct bags) while its 120-bit
    // simhash stays within hamming ≤ 3 of the template's (one token of
    // ~120 flips few majority votes) — i.e. ONE ultra-hot tight LSH
    // bucket of N members, the enumeration regime the adaptive dispatch's
    // closed branch exists for (BASELINE.md "Round-16 measurement: the
    // adaptive per-bucket dispatch"). The template body is a fixed ~120-token
    // natural-vocabulary paragraph so bucket membership is driven by the
    // shared body, not by a degenerate vocabulary.
    val templates = args.lift(5)
      .filter(_.startsWith("templates="))
      .map(_.drop("templates=".length).toInt).getOrElse(0)
    def withTemplates(df: DataFrame): DataFrame =
      if (templates == 0) df
      else {
        val body = ("the cluster telemetry agent records utilization " +
          "samples for every accelerator and forwards them to the " +
          "aggregation tier where daily marts summarize thermal and " +
          "memory pressure for capacity planning and anomaly review ") * 3
        // id base BEYOND every replica range: replica r occupies
        // r·Off + base ids, so 9·Off collided with replica 9 at reps ≥
        // 10 — duplicate doc_ids that silently turned the template
        // cluster into a mixed-signature bucket (found round 16: the
        // "hub capture" first measured on this fixture was partly a
        // duplicate-id artifact — the hub id resolved to TWO sketch
        // rows, one per colliding doc)
        val tBase = math.max(100L, reps.toLong + 1L) * Off
        val t = spark.range(templates)
          .select((col("id") + lit(tBase)).as("doc_id"),
            concat(lit(body), lit(" copymark"), col("id")).as("text"),
            lit("template").as("source"),
            lit("en").as("lang"))
          .withColumn("n_chars", length(col("text")).cast("long"))
        val cols = df.columns
        df.unionByName(t.select(cols.map(col): _*), allowMissingColumns = true)
      }
    writeIf("documents", withTemplates(rep(load("documents")) { (df, r) =>
      df.withColumn("doc_id", col("doc_id") + lit(r * Off))
        .withColumn("text",
          if (mode == "diversify") diversifyText(col("text"), r)
          else permuteText(col("text"), r))
    }))
    writeIf("embeddings", rep(load("embeddings")) { (df, r) =>
      df.withColumn("vec_id", col("vec_id") + lit(r * Off))
        .withColumn("embedding", transform(col("embedding"), (e, i) =>
          (e + (pmod(xxhash64(col("vec_id"), lit(r), i), lit(1000L)) - 500L)
            .cast("float") * lit(1e-4f))))
    })
    spark.stop()
  }
}
