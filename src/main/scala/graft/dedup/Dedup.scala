package graft.dedup

import graft.functions.TextHashExpressions.{charHist27, l1Dist, lshBandKeys, simhash60, simhash60Tail, wordShingles}
import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators for training-data pipelines: exact
  * (fingerprint groupBy), n-gram Jaccard, and MinHash+LSH near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is a single hash aggregation on a 32-char fingerprint —
  *    shuffle carries (hash, id) pairs only, never the text;
  *  - Jaccard all-pairs goes through an inverted shingle index
  *    (explode + self-equi-join on the shingle) — candidate pairs are only
  *    generated for docs that SHARE a shingle, and `maxShingleFreq` drops
  *    stop-shingles whose posting lists would blow up the join
  *    quadratically (the standard df-cut in web-scale dedup);
  *  - MinHash+LSH replaces the shingle index with b band buckets per doc:
  *    candidate generation is an equi-join on (band, key) — the only
  *    formulation whose shuffle is linear in corpus size; exact Jaccard is
  *    then verified only on candidates via array_intersect, and the band
  *    join carries (id, band, key) rows only — shingle arrays are re-joined
  *    by id afterwards.
  *
  * Evaluation-cost note: the shingle/minhash expression trees are expensive,
  * and Catalyst's CollapseProject will happily inline them into every
  * downstream reference (evaluating the tokenizer dozens of times per row).
  * Each expensive stage below therefore ends at a `repartition(id)`
  * exchange: after an exchange the column is a plain attribute and
  * re-references are free. The extra shuffles carry only (id, shingles) —
  * linear, and negligible next to the evaluation blowup they prevent.
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** Exact-duplicate groups under case/whitespace normalization.
    * Returns (fingerprint, canonical_id, n_copies) per group.
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** BAG-of-words exact-duplicate groups: fingerprint over the SORTED
    * token multiset, so token-PERMUTED copies (template reorders,
    * shuffled boilerplate, list-order churn) collapse into one group —
    * the duplicates order-sensitive exactGroups cannot see, and the
    * duplicates SimHash sees as hamming-0 (its votes are
    * order-invariant). Same linear group-by cost class as exactGroups.
    *
    * This is the canonical PRE-PASS before any near-dup enumerator: a
    * c-way permuted-copy cluster contributes c(c−1)/2 pairs to every
    * downstream pairs query (measured: 24.8M identical-bag pairs on
    * the 100× fixture — BASELINE.md round-10), but collapses here to
    * one canonical row in one shuffle. Run bag dedup first, near-dup
    * on canonicals.
    */
  def exactBagGroups(docs: DataFrame, textCol: String,
                     idCol: String): DataFrame =
    docs.select(
        md5(concat_ws(" ", array_sort(tokens(col(textCol))))).as("fp"),
        col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** (id, shingles) with the shingle expression materialized exactly once.
    * wordShingles is the native codegen'd twin of TextFunctions.shingles
    * (bit-identical output; one JVM call per row instead of per-element
    * interpreted lambdas).
    */
  private def shingled(docs: DataFrame, textCol: String, idCol: String,
                       n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        wordShingles(tokens(col(textCol)), n).as("sh"))
      .filter(size(col("sh")) > 0)
      // keep the exchange: ReuseExchange shares the shingled data across
      // the 2-3 downstream consumers; measured (sf0.1) dropping it costs
      // +50% on jaccard/minhash (recompute per consumer beats no shuffle
      // only when there is a single consumer)
      .repartition(col("id"))

  /** Pairs (id_a < id_b) whose n-gram-shingle Jaccard ≥ threshold.
    * `maxShingleFreq` is REQUIRED — both possible defaults are traps, so
    * the caller must choose semantics explicitly:
    *  - 0 = exact Jaccard. The uncapped inverted-index self-join is
    *    quadratic in the hottest posting list (a stop-shingle shared by k
    *    docs emits k² candidate rows) — affordable only when the corpus
    *    is small or pre-filtered;
    *  - > 0 = the df-cut: shingles present in more docs than the cap are
    *    dropped before the self-join (the standard web-scale plan).
    *    Under the cut jaccard is a LOWER bound (intersection counts only
    *    surviving shingles; na/nb stay full set sizes), and the cap MUST
    *    sit well above the expected duplicate-group size: dup groups
    *    share ALL their shingles, so a group larger than the cap has
    *    every linking shingle at df > cap and becomes invisible. For
    *    web-scale boilerplate dedup that means caps in the thousands,
    *    not single digits.
    */
  /** The inverted-index shingle stream (id, n_sh, s) with the df-cut
    * applied — the ONE definition of the cut (drop-list = FREQUENT
    * shingles; broadcasting the rare set instead would ship nearly the
    * whole vocabulary) shared by jaccardPairs and containmentPairs,
    * which promise identical cut semantics.
    *
    * The stream is repartitioned by SHINGLE, the winnowPairs layout:
    * the df count, the anti-join, and both sides of the downstream
    * pair self-join are all co-partitioned on s, so the cut adds no
    * exchange beyond the one the self-join needs anyway. The drop list
    * was previously a FORCED broadcast ("tiny by Zipf") — measured
    * wrong in the diversifying-corpus regime (BASELINE.md round-11):
    * the hot set grows with the corpus (Heaps' law — 1.08M shingles at
    * 100×), and collecting it through the driver every run was the
    * probe's GC outlier; at 100 TB it is a driver OOM. Hint-free, AQE
    * still broadcasts it at runtime whenever it measures small.
    */
  private def indexedShingles(docs: DataFrame, textCol: String,
                              idCol: String, n: Int,
                              maxShingleFreq: Int): DataFrame = {
    val t = shingled(docs, textCol, idCol, n).withColumn("n_sh", size(col("sh")))
    val e0 = t.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
      .repartition(col("s"))
    if (maxShingleFreq <= 0) e0
    else {
      val hot = e0.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxShingleFreq).select("s")
      e0.join(hot, Seq("s"), "left_anti")
    }
  }

  def jaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                   threshold: Double, maxShingleFreq: Int,
                   n: Int = 3): DataFrame = {
    val e = indexedShingles(docs, textCol, idCol, n, maxShingleFreq)
    val a = e.select(col("id").as("ida"), col("n_sh").as("na"), col("s"))
    val b = e.select(col("id").as("idb"), col("n_sh").as("nb"), col("s"))
    a.join(b, a("s") === b("s") && col("ida") < col("idb"))
      .groupBy("ida", "idb", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")
  }

  /** CONTAINMENT near-dup pairs — the ASYMMETRIC reading of shingle
    * overlap: containment(a ⊆ b) = |sh(a) ∩ sh(b)| / |sh(a)|. Symmetric
    * Jaccard misses subset duplication (a short doc quoted wholesale
    * inside a long one has jaccard ≈ |a|/|b|, arbitrarily small, while
    * containment(a ⊆ b) ≈ 1); this is the doc-level complement of the
    * span-granular crossSpanMatches. Output is DIRECTIONAL:
    * (inner_id, outer_id, containment) for every ordered pair with
    * containment(inner ⊆ outer) ≥ threshold — a mutual near-dup pair
    * appears once per direction.
    *
    * Same inverted-index shape and the same REQUIRED `maxShingleFreq`
    * df-cut contract as `jaccardPairs` (0 = exact, quadratic in the
    * hottest posting list; > 0 = scale-safe lower bound — see there).
    * The pair aggregation runs ONCE; both directions are projections of
    * the one aggregated frame.
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       threshold: Double, maxShingleFreq: Int,
                       n: Int = 3): DataFrame = {
    val e = indexedShingles(docs, textCol, idCol, n, maxShingleFreq)
    val a = e.select(col("id").as("ida"), col("n_sh").as("na"), col("s"))
    val b = e.select(col("id").as("idb"), col("n_sh").as("nb"), col("s"))
    val p = a.join(b, a("s") === b("s") && col("ida") < col("idb"))
      .groupBy("ida", "idb", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .withColumn("ca", round(col("inter").cast("double") / col("na"), 6))
      .withColumn("cb", round(col("inter").cast("double") / col("nb"), 6))
    // both directions leave the ONE aggregation via a 2-row explode —
    // no second pass over the pair join, no cache management
    p.select(explode(array(
        struct(col("ida").as("inner_id"), col("idb").as("outer_id"),
          col("ca").as("containment")),
        struct(col("idb").as("inner_id"), col("ida").as("outer_id"),
          col("cb").as("containment")))).as("r"))
      .select("r.*")
      .filter(col("containment") >= threshold)
  }

  /** Exact-Jaccard pairs via PREFIX FILTERING (the AllPairs/PPJoin
    * family — Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07):
    * identical output to `jaccardPairs(..., maxShingleFreq = 0)` with
    * far fewer candidates and NO recall loss. Every doc's shingles are
    * ordered by a global total order (corpus df ascending, shingle
    * tiebreak — rarest first); a pair with Jaccard ≥ t must share a
    * shingle inside each side's first (n − ⌈t·n⌉ + 1) shingles, so only
    * that prefix enters the self-join. Rare-first ordering means
    * candidate pairs meet on LOW-df shingles — short posting lists —
    * while the stop-shingles that make the naive index quadratic sit at
    * the end of the order and mostly never get indexed. Unlike the
    * df-cut this is lossless: verification sees full shingle sets, and
    * the df-rank pass is one extra vocabulary-sized aggregation + join.
    *
    * CORRECTNESS holds under ANY fixed global shingle order; the order
    * only tunes candidate volume, so `dfOrder` picks the cost profile:
    *  - true (the Zipf/web-scale path): order by corpus df ascending —
    *    prefixes meet on RARE shingles with short posting lists, and the
    *    stop-shingles that make the naive index quadratic mostly never
    *    index. Costs one vocabulary aggregation + a per-doc ranking
    *    window (an extra keyed shuffle of the shingle stream).
    *  - false: plain lexicographic order — the prefix is computed
    *    per-row from the sorted shingle array, completely shuffle-free.
    *    On a corpus WITHOUT hot shingles (uniform df) candidates are
    *    statistically the same and this is strictly cheaper; under skew
    *    a hot shingle can land in many prefixes and re-grow the join.
    *
    * The prefix bound uses ceil(t·n − 1e-9): thresholds carry ≤ 6
    * decimals, so the epsilon only cancels a float round-UP at exact
    * integer boundaries (it can never cross a true boundary — gaps are
    * ≥ 1e-6). Erring long keeps exactness; one shingle short would
    * silently lose pairs. The length and position filters below use the
    * same convention and are likewise lossless (standard AllPairs/PPJoin
    * bounds).
    *
    * CROSSOVER, measured (BASELINE.md "Round-7 measurement: exact-jaccard
    * prefix-filter crossover", best-of-2, local[32],
    * threshold 0.8, word-permuted replicas of sf0.1 — df grows with
    * scale, true pairs stay sparse):
    *   1× (5k docs):    naive 1.63 s, prefix 1.62 s — parity in noise;
    *   10× (50k docs):  naive 29.8 s, prefix 13.1 s — 2.3×;
    *   20× (100k docs): naive 65.8 s, prefix 20.3 s — 3.2×.
    * The naive self-join grows ~quadratically with per-shingle df while
    * this path stays near-linear — the gap keeps widening at 100 TB.
    *
    * SCALE CAVEAT (measured later, 30× table in BASELINE.md round-10):
    * lossless prefixing only DELAYS the df² term — once prefix shingles
    * themselves grow dense (decade 2 on a fixed vocabulary) candidates
    * re-quadratize (23.4× at 30×). This is the EXACTNESS BASELINE;
    * production = jaccardPairs with a df cut (q_dedup_jaccard_capped,
    * 4.1×/7.0× at 30×/100×), verified against this exact twin.
    */
  def jaccardPairsPrefix(docs: DataFrame, textCol: String, idCol: String,
                         threshold: Double, n: Int = 3,
                         dfOrder: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold")
    val t = shingled(docs, textCol, idCol, n)
    // The candidate stream is NARROW — (id, n_sh, pos, s) only; the full
    // shingle arrays exchange exactly ONCE, keyed by id, for the
    // per-PAIR verify at the end. The earlier shape carried both docs'
    // arrays on every prefix collision and verified per OCCURRENCE —
    // measured 1.6× SLOWER than the naive index at 10× sf0.1 (the
    // arrays dominated the shuffle); this shape is the one that wins
    // (see the crossover numbers below).
    val sorted = t.select(col("id"), array_sort(col("sh")).as("sh"))
    val prefix = if (dfOrder) {
      val ee = t.select(col("id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("s"))
      val dfc = ee.groupBy("s").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("df"), col("s"))
      val prefLen =
        col("n_sh") - ceil(col("n_sh") * threshold - 1e-9) + 1
      ee.join(dfc, "s")
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") <= prefLen)
        .select("id", "n_sh", "pos", "s")
    } else {
      val prefLen =
        (size(col("sh")) - ceil(size(col("sh")) * threshold - 1e-9) + 1)
          .cast("int")
      sorted.select(col("id"), size(col("sh")).as("n_sh"),
          posexplode(slice(col("sh"), lit(1), prefLen)).as(Seq("p0", "s")))
        .select(col("id"), col("n_sh"), (col("p0") + 1).as("pos"), col("s"))
    }
    // one s-keyed exchange BOTH join sides reuse (same ReuseExchange
    // trick as shingled())
    val prefixByKey = prefix.repartition(col("s"))
    val a = prefixByKey.select(col("id").as("ida"), col("n_sh").as("na"),
      col("pos").as("pa"), col("s"))
    val b = prefixByKey.select(col("id").as("idb"), col("n_sh").as("nb"),
      col("pos").as("pb"), col("s").as("sb"))
    // overlap needed for jaccard ≥ t: o ≥ t/(1+t)·(na+nb); ceil with the
    // same −1e-9 epsilon convention as the prefix bound
    val alpha =
      ceil((col("na") + col("nb")) * (threshold / (1 + threshold)) - 1e-9)
    val cand = a.join(b, col("s") === col("sb") && col("ida") < col("idb"))
      // LENGTH filter: jaccard ≥ t forces t·nb ≤ na (and symmetrically),
      // so size-mismatched collisions die before the distinct
      .filter(col("na") >= ceil(col("nb") * threshold - 1e-9) &&
        col("nb") >= ceil(col("na") * threshold - 1e-9))
      // PPJoin POSITION filter (Xiao et al. WWW'08): a prefix match at
      // ranks (pa, pb) of the shared global order caps the achievable
      // overlap at min(na−pa, nb−pb)+1 — collisions deep in either
      // prefix can't reach α and die here, per OCCURRENCE, while rows
      // are still narrow
      .filter(least(col("na") - col("pa"), col("nb") - col("pb")) + 1 >= alpha)
      .select("ida", "idb")
      .distinct()
    // verify once per surviving PAIR: re-join the sorted arrays by id
    // (sorted is id-partitioned via shingled(), so each side reuses that
    // exchange) and linear-merge with the native sorted_intersect_count
    // — measured ~4× cheaper per candidate than hash-set array_intersect
    cand
      .join(sorted.select(col("id").as("ida"), col("sh").as("sha")), "ida")
      .join(sorted.select(col("id").as("idb"), col("sh").as("shb")), "idb")
      .withColumn("inter",
        graft.functions.TextHashExpressions.sortedIntersectCount(
          col("sha"), col("shb")))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")
  }

  /** Exact-Jaccard verification of an LSH candidate-pair frame: join the
    * (aIdCol, bIdCol) pairs back to their shingle sets and keep pairs at
    * or above the threshold. ONE definition of the verify arithmetic
    * (array_intersect / round-6) serves the self-dedup and the
    * cross-corpus contamination paths — they must never diverge from
    * each other or from the shared DuckDB oracle CTEs.
    */
  private def jaccardVerified(cand: DataFrame, aSide: DataFrame,
                              bSide: DataFrame, aIdCol: String,
                              bIdCol: String, threshold: Double): DataFrame =
    cand
      .join(aSide.select(col("id").as(aIdCol), col("sh").as("sha")), aIdCol)
      .join(bSide.select(col("id").as(bIdCol), col("sh").as("shb")), bIdCol)
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(aIdCol, bIdCol, "jaccard")

  /** (id, band, key) rows for a shingled frame — the ONE banding
    * derivation shared by batch pairing, the persisted index, and the
    * incremental probe: those three must stay bit-identical or the
    * index-probe algebra silently breaks, so they all call this.
    * lshBandKeys computes the k=bands*r signature and all band keys in
    * one native expression — no per-band re-evaluation of the
    * signature subtree.
    */
  private def bandKeyRows(shingledDocs: DataFrame, bands: Int,
                          r: Int): DataFrame =
    shingledDocs.select(col("id"),
      posexplode(lshBandKeys(col("sh"), bands, r)).as(Seq("band", "key")))

  /** MinHash+LSH near-dup pairs: k-component signatures, b bands × r rows
    * (k = b*r); candidates share ≥1 band bucket, then exact Jaccard ≥
    * threshold verified on the candidate pairs only.
    */
  /** Band-structure planner for MinHash LSH: the (bands, rowsPerBand)
    * pair whose S-curve threshold t* = (1/b)^(1/r) sits closest to the
    * requested Jaccard `threshold`, under a hash budget (signature
    * length = b·r ≤ maxHashes). The standard MMDS ch.3 sizing rule —
    * pairs above t* are likely candidates, pairs below likely not; more
    * hashes buy a steeper curve. Returns (bands, rowsPerBand, tStar) so
    * callers can log what they actually got. Deterministic tie-break:
    * prefer the larger signature (steeper curve), then more bands
    * (recall over precision).
    */
  def lshPlan(threshold: Double, maxHashes: Int = 128): (Int, Int, Double) = {
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0, 1): $threshold")
    require(maxHashes >= 2, s"maxHashes must be >= 2: $maxHashes")
    val cands = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
      if b * r >= 2
    } yield {
      val tStar = math.pow(1.0 / b, 1.0 / r)
      (b, r, tStar)
    }
    cands.minBy { case (b, r, tStar) =>
      (math.abs(tStar - threshold), -(b * r), -b)
    }
  }

  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      threshold: Double, n: Int = 3,
                      bands: Int = 4, r: Int = 3): DataFrame = {
    // Candidate generation materializes eagerly (this function is not
    // purely lazy): the band index persists just long enough for the
    // self-join's two sides to read ONE signing pass, and the candidate
    // pairs persist so the verify stage prunes the corpus to candidate
    // MEMBERS before re-shingling — the lazy formulation re-shingled the
    // FULL corpus four times per call (band sides + verify sides; round-13
    // plan audit, same systemic finding as LmScore). Candidate pairs are
    // ∝ near-dup structure, the smallest frame in the pipeline — the
    // right thing to pin, exactly as incrementalNearDups' stored-index
    // probe already did.
    val banded = bandKeyRows(shingled(docs, textCol, idCol, n), bands, r)
      .persist(graft.operators.Artifacts.Level)
    // No eager fill of `banded`: the self-join's sides may race the lazy
    // cache on the FIRST build, but `cand` below stays cached for the
    // session (the canonical-plan lookup makes repeat calls no-ops), so
    // an eager banded.count() would re-sign the corpus on every repeat
    // call for a cache the repeat never reads (measured 3× slower in a
    // 3-pass bench loop). `cand` is the session-lived artifact →
    // registered (release via Artifacts.releaseAll); `banded` is
    // transient, dropped inline below.
    val cand = graft.operators.Artifacts.pinEager(bandedCandidates(banded),
      "lsh.candidates") // one signing pass fills `banded`; the join reads it
    banded.unpersist(false) // candidates are materialized; index can go
    val candIds = cand
      .select(explode(array(col("ida"), col("idb"))).as(idCol)).distinct()
    val pruned = docs.join(candIds, Seq(idCol), "left_semi")
    val t = shingled(pruned, textCol, idCol, n)
    jaccardVerified(cand, t, t, "ida", "idb", threshold)
  }

  /** Distinct candidate pairs (ida < idb) from a banded frame — the one
    * LSH pairing join, shared by `minhashLshPairs` and `lshCandidates`
    * so any verify stage composes with bit-identical blocking.
    */
  private def bandedCandidates(banded: DataFrame): DataFrame =
    banded.select(col("id").as("ida"), col("band"), col("key"))
      .join(banded.select(col("id").as("idb"), col("band").as("band_b"),
          col("key").as("key_b")),
        col("band") === col("band_b") && col("key") === col("key_b") &&
          col("ida") < col("idb"))
      .select("ida", "idb")
      .distinct()

  /** Raw MinHash+LSH candidate pairs (ida < idb, distinct), i.e. the
    * banding stage of `minhashLshPairs` WITHOUT the Jaccard verify —
    * exposed so other verify stages (edit-distance `editDistanceVerify`,
    * containment, embedding-cosine) can reuse the linear-shuffle blocking.
    * Candidate volume is bounded by bucket population, never corpus²;
    * recall follows the banding S-curve t* = (1/bands)^(1/r).
    */
  def lshCandidates(docs: DataFrame, textCol: String, idCol: String,
                    n: Int = 3, bands: Int = 4, r: Int = 3): DataFrame =
    bandedCandidates(
      bandKeyRows(shingled(docs, textCol, idCol, n), bands, r))

  /** Persistable MinHash band index: one (id, band, key) row per band per
    * doc — the artifact an ONGOING dedup pipeline stores in the lake so
    * arriving batches never re-shingle, re-sign, or re-shuffle the
    * historical corpus. ~bands rows × ~40 B per doc (a 10B-doc corpus at
    * 4 bands is ~1.6 TB — lake-cheap next to re-banding 100 TB of text
    * per batch). Write it partitioned/bucketed by `key` so the batch
    * join below prunes.
    */
  def bandIndex(docs: DataFrame, textCol: String, idCol: String,
                n: Int = 3, bands: Int = 4, r: Int = 3): DataFrame =
    bandKeyRows(shingled(docs, textCol, idCol, n), bands, r)

  /** Incremental near-dup detection: all pairs with ≥1 side in the NEW
    * batch — exactly `minhashLshPairs(corpus ∪ newDocs)` minus the
    * old-old pairs already found when earlier batches arrived (ids must
    * be globally unique across batches). The new batch bands itself and
    * probes the stored index; the historical corpus is touched ONLY for
    * the candidate members that must re-shingle for verification —
    * normally via a LITERAL id predicate pushed to the parquet scan
    * (candidates collected under `collectCandLimit`; row-group pruning
    * skips the unmatched history), with a distributed candidate-id
    * semi-join fallback for a pathological batch over the bound.
    * `collectCandLimit = 0` pins the distributed route outright (the
    * probe collects a single row to decide and takes the fallback —
    * the A/B knob behind the round-16 fallback-leg measurement in
    * BASELINE.md; route parity is spec'd, so the knob changes cost
    * only). Work
    * per batch is linear in batch size + candidates, not in corpus
    * size — the difference between an hourly job and re-running
    * corpus-wide dedup 24× a day.
    */
  def incrementalNearDups(corpus: DataFrame, newDocs: DataFrame,
                          index: DataFrame, textCol: String, idCol: String,
                          threshold: Double, n: Int = 3,
                          bands: Int = 4, r: Int = 3,
                          collectCandLimit: Int = 8192): DataFrame = {
    val nt = shingled(newDocs, textCol, idCol, n)
    val newBands = bandKeyRows(nt, bands, r)
    // new docs probe the union so new-new pairs surface too; ida < idb
    // canonicalization dedups the new-new candidates seen from both ends
    val candPlan = newBands.select(col("id").as("ida"),
        col("band"), col("key"))
      .join(index.unionByName(newBands)
          .select(col("id").as("idb"), col("band").as("band_b"),
            col("key").as("key_b")),
        col("band") === col("band_b") && col("key") === col("key_b") &&
          col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("a"),
        greatest(col("ida"), col("idb")).as("b"))
      .distinct()
    // Candidate pairs are ∝ ONE batch's near-dup structure against the
    // index — hundreds of rows per epoch at the 300× scale leg, the
    // smallest frame in the pipeline — while the lazy plan would be
    // consumed TWICE below (member ids + verify input), running the
    // index-probe join twice per epoch. When they fit the bound, land
    // them on the driver once: the verify side becomes a broadcast-sized
    // local relation, and the member ids become a LITERAL `isin`
    // predicate the corpus scan can push to parquet — row-group pruning
    // instead of re-reading every historical text byte per epoch (the
    // residual linear term the round-15 300× fold A/B isolated after
    // epoch folding bounded the partition floor: pairs/epoch flat at
    // ~560-590 while steady cost still drifted 5.0 → 7.2 s). Over the
    // bound (a pathological batch) the exact pre-round-15 distributed
    // shape runs instead — same rows either way.
    val firstRows = candPlan.limit(collectCandLimit + 1).collect()
    val (cand, oldNeeded) =
      if (firstRows.length <= collectCandLimit) {
        val spark = corpus.sparkSession
        val local = spark.createDataFrame(
          java.util.Arrays.asList(firstRows: _*), candPlan.schema)
        val ids = firstRows.flatMap(r => Seq(r.get(0), r.get(1))).distinct
        val prunedOld =
          if (ids.isEmpty) corpus.limit(0)
          else corpus.filter(col(idCol).isin(ids.toIndexedSeq: _*))
        (local, prunedOld)
      } else {
        val candIds = candPlan
          .select(explode(array(col("a"), col("b"))).as(idCol)).distinct()
        (candPlan, corpus.join(candIds, Seq(idCol), "left_semi"))
      }
    val allSh = shingled(oldNeeded, textCol, idCol, n).unionByName(nt)
    jaccardVerified(
      cand.select(col("a").as("ida"), col("b").as("idb")),
      allSh, allSh, "ida", "idb", threshold)
  }

  /** Span-level duplication profile — the document-granular reading of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): shingle every document into w-token
    * spans, mark a span duplicated when it also occurs in ANOTHER
    * document, and report each doc's duplicated-span fraction. Near-dup
    * pair detection misses partial copies (a page quoting three
    * paragraphs of another is no near-dup); this is the signal that
    * catches them, and the fraction is what a trimming/dropping policy
    * thresholds on.
    *
    * Distributed shape: explode to (span, id) — spans are per-doc
    * distinct already (`wordShingles`) — then one span-keyed window
    * counts each span's document frequency and one id-keyed aggregation
    * rolls up per doc: two linear shuffles, no self-join, no candidate
    * blow-up (unlike `jaccardPairs` this never builds pairs). At 100 TB
    * swap the span STRING for a 64/128-bit span hash before the exchange
    * (the string is kept here so the DuckDB oracle is exact; collision
    * risk of a 64-bit hash at corpus scale is the standard trade).
    *
    * Returns (id, n_spans, n_dup_spans, dup_frac) for docs with ≥ w
    * tokens.
    */
  def spanDupStats(docs: DataFrame, textCol: String, idCol: String,
                   w: Int = 5): DataFrame = {
    // no `shingled` barrier here: that exchange exists to share the
    // tokenizer across 2-3 consumers, but this pipeline consumes the
    // spans exactly once (the explode generator evaluates wordShingles
    // once per row already) — the extra (id, spans) shuffle would be
    // pure cost
    val e = docs.select(col(idCol).as("id"),
        explode(wordShingles(tokens(col(textCol)), w)).as("s"))
    val win = org.apache.spark.sql.expressions.Window.partitionBy("s")
    e.withColumn("sdf", count(lit(1)).over(win))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("sdf") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
  }

  /** Span REMOVAL — the transformation spanDupStats only profiles
    * (Lee et al. 2022's exact-substring dedup, document-granular): drop
    * every token covered by a w-token span that also occurs in ANOTHER
    * document, keep the rest in order. Boilerplate repeated across docs
    * disappears from all of them; unique prose survives untouched.
    *
    * Shape: positions ride the explode (posexplode over the w-gram
    * transform), span df is one distinct + one keyed aggregation, and
    * coverage is a bounded explode (≤ w rows per duplicated span) into
    * a (id, pos) anti-join — every shuffle linear in corpus token
    * count, never a pair join. Reassembly sorts each doc's surviving
    * (pos, token) structs inside one aggregation. Docs shorter than w
    * tokens have no spans and pass through whole; a doc whose every
    * token is covered comes back with empty clean_text (row preserved —
    * a dropped row would silently change corpus counts downstream).
    */
  /** (id, tk) token frame shared by the span strippers. */
  private def tokenized(docs: DataFrame, textCol: String,
                        idCol: String): DataFrame =
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))

  /** Positional w-token spans (id, start, s) of a tokenized frame — the
    * ONE span builder both strippers (and their oracles) share.
    */
  private def posSpans(tok: DataFrame, w: Int): DataFrame =
    tok.select(col("id"),
      posexplode(when(size(col("tk")) >= w,
        transform(sequence(lit(0), size(col("tk")) - w),
          i => concat_ws(" ", slice(col("tk"), i + 1, lit(w)))))
        .otherwise(array().cast("array<string>"))).as(Seq("start", "s")))

  /** The char-level verify kernel behind stripDupSpans(exactVerify):
    * for one flagged pair, all shared character windows of length θ
    * over the two normalized space-joined token strings mark coverage
    * (window set of one side, slide the other; a "mark farthest"
    * pointer keeps total fill O(n)), and the emitted rows are (side,
    * tokenPos) for every token whose characters are FULLY covered —
    * side 0 = the hub argument, 1 = the member. A scalar UDF by
    * necessity: per-pair substring hashing over two variable-length
    * strings is not expressible in relational operators at this cost
    * shape (a char-gram explode+join would shuffle n·θ chars per doc).
    *
    * Windows are compared by a 128-BIT ROLLING FINGERPRINT — two
    * independent 64-bit polynomial hashes, O(1) per position — held in
    * an open-addressed long-pair set (round 18). The first cut used
    * java.util.HashSet[String] of materialized θ-char substrings,
    * which allocated + hashed a 25-char String per position on BOTH
    * the build and the probe side; at d100 (1.83M flagged star pairs ×
    * ~450-char docs, measured by the degree probe) that is ~3·10⁹
    * substring allocations per pass — the actual dominant term of the
    * r17 3.4× price, not the hub rebuild alone (mean star degree is
    * only 5.0, so amortizing the hub build alone caps at ~1/8 of the
    * kernel). Fingerprint equality stands in for char equality with
    * per-pair collision probability < 2⁻⁹⁰ (two independent 64-bit
    * wraparound polynomial hashes over ≲10³ windows/doc) — the same
    * posture as the winnowing/simhash sketches elsewhere in this file,
    * stated here because the operator's name says "exact": on any
    * non-adversarial corpus the output is bit-identical to literal
    * substring comparison, and the DuckDB oracle (literal substrings)
    * hash-pins exactly that on the gate fixture.
    */
  private object CharVerifyFp {
    val B1 = 0x9E3779B97F4A7C15L // odd golden-ratio multiplier
    val B2 = 0xC2B2AE3D27D4EB4FL // odd (xxhash64 prime)
    /** B^(θ-1) mod 2⁶⁴ for dropping the outgoing char of a window. */
    def pow(b: Long, e: Int): Long = {
      var r = 1L; var i = 0
      while (i < e) { r *= b; i += 1 }
      r
    }
  }

  /** Open-addressed set of 128-bit window fingerprints (linear probe,
    * ≤50% load by construction). Hand-rolled because the hot loop must
    * not box: HashSet[Long] allocates a wrapper per op.
    */
  private final class WindowFpSet(nWindows: Int) {
    private val cap = java.lang.Integer.highestOneBit(
      math.max(4, nWindows * 2) * 2 - 1)
    private val mask = cap - 1
    private val k1 = new Array[Long](cap)
    private val k2 = new Array[Long](cap)
    private val occ = new Array[Boolean](cap)
    private var n = 0
    def isEmpty: Boolean = n == 0
    private def slot(h1: Long, h2: Long): Int = {
      val m = (h1 * 0xFF51AFD7ED558CCDL) ^ java.lang.Long.rotateLeft(h2, 31)
      (m ^ (m >>> 32)).toInt & mask
    }
    def add(h1: Long, h2: Long): Unit = {
      var i = slot(h1, h2)
      while (occ(i) && !(k1(i) == h1 && k2(i) == h2)) i = (i + 1) & mask
      if (!occ(i)) { occ(i) = true; k1(i) = h1; k2(i) = h2; n += 1 }
    }
    def contains(h1: Long, h2: Long): Boolean = {
      var i = slot(h1, h2)
      while (occ(i)) {
        if (k1(i) == h1 && k2(i) == h2) return true
        i = (i + 1) & mask
      }
      false
    }
  }

  /** All θ-window fingerprints of `s` — the membership side. */
  private def windowFpSet(s: String, theta: Int,
                          pw1: Long, pw2: Long): WindowFpSet = {
    import CharVerifyFp.{B1, B2}
    val set = new WindowFpSet(math.max(0, s.length - theta + 1))
    if (s.length >= theta) {
      var h1 = 0L; var h2 = 0L
      var i = 0
      while (i < theta) {
        val c = s.charAt(i); h1 = h1 * B1 + c; h2 = h2 * B2 + c; i += 1
      }
      set.add(h1, h2)
      var j = theta
      while (j < s.length) {
        val out = s.charAt(j - theta); val in = s.charAt(j)
        h1 = (h1 - out * pw1) * B1 + in
        h2 = (h2 - out * pw2) * B2 + in
        set.add(h1, h2)
        j += 1
      }
    }
    set
  }

  /** Token positions of the space-joined token string `s` whose every
    * char is covered by some shared θ-window present in `other` — the
    * sliding side of the verify kernel ("mark farthest" keeps fill
    * O(n)). Token boundaries are the spaces of `s` itself: the joined
    * string is exactly `tokens(text)` single-space-joined, and those
    * tokens are non-empty and whitespace-free by construction
    * (TextFunctions.tokens splits on \s+ and filters ""), so the walk
    * reproduces the token array without shipping it.
    */
  private def coveredTokenPositions(s: String, other: WindowFpSet,
                                    theta: Int,
                                    pw1: Long, pw2: Long): Seq[Int] = {
    import CharVerifyFp.{B1, B2}
    val n = s.length
    if (n < theta || other.isEmpty) Seq.empty
    else {
      val cov = new Array[Boolean](n)
      var filled = 0
      var h1 = 0L; var h2 = 0L
      var j = 0
      while (j < theta - 1) {
        val c = s.charAt(j); h1 = h1 * B1 + c; h2 = h2 * B2 + c; j += 1
      }
      while (j < n) {
        val c = s.charAt(j); h1 = h1 * B1 + c; h2 = h2 * B2 + c
        val i = j - theta + 1 // window start
        if (other.contains(h1, h2)) {
          val from = math.max(i, filled)
          if (from < i + theta) {
            java.util.Arrays.fill(cov, from, i + theta, true)
            filled = i + theta
          }
        }
        val out = s.charAt(i)
        h1 -= out * pw1; h2 -= out * pw2
        j += 1
      }
      val outB = scala.collection.mutable.ArrayBuffer.empty[Int]
      var cs = 0
      var p = 0
      while (cs < n) {
        var ce = cs
        while (ce < n && s.charAt(ce) != ' ') ce += 1
        var all = ce > cs
        var k = cs
        while (all && k < ce) { if (!cov(k)) all = false; k += 1 }
        if (all) outB += p
        p += 1
        cs = ce + 1
      }
      outB.toSeq
    }
  }

  /** The per-pair verify function with the HUB window set cached per
    * task-thread (round 18, VERDICT r17 #2): stripDupSpans orders its
    * text joins so the LAST join keys on the hub id, which clusters
    * the verify stream by hub with ZERO extra exchange (a first cut
    * added a repartition+sort of the widest frame and measured a net
    * LOSS at d100 — the exchange cost more than the amortization
    * saved). Consecutive rows then share a hub, so the O(n) hub-side
    * fingerprint build — paid once per star PAIR before — is paid once
    * per (task, hub) run. The cache is a single-entry ThreadLocal keyed
    * by the stringified hub id: `@transient lazy` so it never
    * serializes, thread-confined so instance sharing across task
    * threads cannot race, and purely a HIT-RATE optimization — output
    * is identical for any row order or cache state, so correctness
    * never depends on the physical layout.
    */
  private final class HubCachedCharVerify(theta: Int)
      extends ((String, String, String) => Seq[(Int, Int)])
      with Serializable {
    @transient private lazy val cache =
      new ThreadLocal[(String, WindowFpSet)]
    @transient private lazy val pw1 = CharVerifyFp.pow(CharVerifyFp.B1, theta - 1)
    @transient private lazy val pw2 = CharVerifyFp.pow(CharVerifyFp.B2, theta - 1)
    def apply(hub: String, sa: String, sb: String): Seq[(Int, Int)] = {
      val hit = cache.get()
      val hubFps =
        if (hit != null && hit._1 == hub) hit._2
        else { val g = windowFpSet(sa, theta, pw1, pw2); cache.set((hub, g)); g }
      coveredTokenPositions(sa, windowFpSet(sb, theta, pw1, pw2),
          theta, pw1, pw2).map(p => (0, p)) ++
        coveredTokenPositions(sb, hubFps, theta, pw1, pw2)
          .map(p => (1, p))
    }
  }

  private def charDupTokenPositions(theta: Int) =
    udf(new HubCachedCharVerify(theta))

  /** Reassembly tail shared by the span strippers: drop the (id, pos)
    * rows in `droppedPos` from the token stream, rebuild clean_text in
    * positional order, and LEFT-join back so fully-covered and empty
    * docs keep their row (a dropped row would silently change corpus
    * counts downstream).
    */
  private def reassembleWithout(tok: DataFrame,
                                droppedPos: DataFrame): DataFrame = {
    val kept = tok
      .select(col("id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .join(droppedPos, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("t")))),
          x => x("t"))).as("clean_text"),
        count(lit(1)).as("n_kept_tokens"))
    tok.select(col("id"), size(col("tk")).as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"))
  }

  /** Cross-doc span removal — see the block comment above [[tokenized]]
    * for the shape; this note states the PRECISION/RECALL CONTRACT
    * versus Lee et al. 2022's suffix-array exact-substring dedup
    * (round 16, VERDICT r15 #6), which this w-token span-hash
    * formulation approximates at TOKEN granularity:
    *
    *  - RECALL — duplication is visible only at ≥ w-token granularity:
    *    a phrase of w−1 or fewer tokens shared across docs generates NO
    *    matching w-span and survives untouched. This is the same
    *    role the suffix-array method's minimum-match-length θ plays
    *    (50 BPE tokens in the paper): set w = θ and both formulations
    *    ignore sub-threshold matches BY DESIGN. What the suffix array
    *    catches that this cannot: character-level matches that are not
    *    token-aligned (a match starting mid-token), and within-ONE-doc
    *    repetition (span df counts DOCS — the intra-doc case is
    *    [[stripSelfRepeats]]' contract, deliberately split so each
    *    stays a linear/map-shaped plan).
    *  - PRECISION — a shared token run of length L ≥ w is removed
    *    EXACTLY: the L−w+1 windows fully inside the run match, their
    *    position union covers precisely the L run tokens, and windows
    *    straddling the run boundary mix in non-shared context so they
    *    cannot match — no over-removal beyond the duplicated run
    *    (token normalization aside: `tokens` lowercases and strips
    *    punctuation, so matching is slightly MORE aggressive than raw
    *    character equality).
    *
    * DedupSpec pins both sides on a planted fixture: a (w−1)-token
    * shared phrase kept, a w-token shared phrase removed exactly, an
    * L > w shared run removed in full with its neighbors intact.
    *
    * EXACT-SUBSTRING VERIFY (round 17, VERDICT r16 #6 — opt-in,
    * `exactVerify = true`): closes the stated recall gap WHERE IT
    * MATTERS — on span-FLAGGED docs, which are exactly the dup-heavy
    * ones. For every duplicated w-span, each carrying doc is paired
    * with the span's min-id doc (star-bounded: pairs are linear in dup
    * incidence, never quadratic) and the pair is re-checked at
    * CHARACTER level over the normalized space-joined token strings:
    * every shared character window of length ≥ `minMatchChars` marks
    * its chars covered (window-union — the char-level twin of the
    * w-span position-union, with the same exact-run theorem: a shared
    * char run of length L ≥ θ is covered precisely), and a TOKEN is
    * additionally dropped iff every one of its characters is covered.
    * This catches what the token granularity misses on flagged pairs —
    * runs that begin or end mid-token, and aligned runs of < w tokens
    * whose character length clears θ — while keeping the output
    * token-aligned. Deliberate bounds, stated: (a) docs sharing ≥ θ
    * chars but ZERO w-token spans are never flagged, so never
    * verified (the flag IS the bound — use a smaller w to widen it);
    * (b) the star pairing checks flagged docs against their span
    * hubs, not each other. Cost: O((|a|+|b|)·θ) per flagged pair,
    * char-gram hashing in one scalar UDF (not SQL-expressible — the
    * same justification ledger as the IsolationForest scorer); the hub
    * side's gram build is amortized across its star pairs by a
    * hub-clustered layout + per-task cache (round 18, VERDICT r17 #2 —
    * a hub of degree k paid k redundant O(n·θ) builds).
    */
  def stripDupSpans(docs: DataFrame, textCol: String, idCol: String,
                    w: Int = 5, exactVerify: Boolean = false,
                    minMatchChars: Int = 25): DataFrame = {
    val tok = tokenized(docs, textCol, idCol)
    val spans = posSpans(tok, w)
    // df counts DOCS containing the span (per-doc distinct — same
    // definition as spanDupStats), not occurrences. wordShingles emits
    // exactly posSpans' span strings deduped PER DOC (same space-join,
    // same < w edge), so the count aggregates the explode directly with
    // map-side partials — the (id, s) distinct formulation moved the
    // full span stream through TWO exchanges (per-doc-unique keys give
    // the distinct's partial pass nothing to collapse) where this
    // moves per-partition-collapsed (s, cnt) partials through ONE.
    val sdf = tok.select(explode(
        graft.functions.TextHashExpressions.wordShingles(col("tk"), w))
        .as("s"))
      .groupBy("s").agg(count(lit(1)).as("sdf"))
    val flagged = spans.join(sdf.filter(col("sdf") >= 2), "s")
    val covered = flagged
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (w - 1))).as("pos"))
    // the opt-in char-level verify stream (scaladoc above): star-bounded
    // flagged pairs → one UDF evaluation per pair emitting (side, pos)
    // structs → a second (id, pos) stream unioned into the SAME drop-set
    // aggregation, so reassembly stays one code path
    val coveredAll = if (!exactVerify) covered else {
      require(minMatchChars >= 1,
        "stripDupSpans: minMatchChars must be >= 1")
      // hub = min(id) per span, computed INLINE with a window over the
      // partition-by-s stream (round 18): flagged leaves its sort-merge
      // join already partitioned AND sorted by s, so the window's
      // required distribution/ordering are both satisfied — no new
      // exchange, no sort. The first cut's groupBy(s)+self-join re-ran
      // the flagged join TWICE more over the (reused) span exchanges;
      // the stage profile at d100 priced that second derivation at ~6 s
      // of the verify premium. A PARTITIONED window — the ungrouped
      // SinglePartition windows PlanSpec guards against elsewhere are a
      // different shape.
      val pairs = flagged
        .withColumn("hub", min(col("id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("s")))
        .filter(col("id") =!= col("hub"))
        .select(col("hub").as("ida"), col("id").as("idb"))
        .dropDuplicates("ida", "idb")
      // JOIN ORDER IS THE CLUSTERING (round 18): member text joins
      // first, hub text joins LAST, so the final exchange-bearing
      // join keys on ida — its output arrives at the verify UDF
      // clustered by hub (sort-merge: sorted by ida; broadcast-hash:
      // each hub's text row emits its pairs consecutively), which is
      // exactly what the kernel's per-task hub cache needs, for free.
      // An explicit repartition(hub, salt)+sort of this frame measured
      // a net LOSS at d100 (66 s vs 61.5 s) — it re-exchanged the
      // widest rows purely to buy cache hits, and no salt is needed:
      // the d100 star-degree histogram tops out at 59 (mean 5.0), so
      // no hub can serialize a task. Output is order-independent;
      // layout buys only the cache hit rate.
      //
      // Each side ships as ONE space-joined string (concat_ws once per
      // doc, BEFORE the join replicates it), not the token array: the
      // kernel re-derives boundaries from the spaces, so 1.8M pair
      // rows × ~67-element arrays of per-element UTF8String→String
      // conversions (~240M per pass at d100) collapse to one string
      // conversion per side.
      val withTok = pairs
        .join(tok.select(col("id").as("idb"),
          concat_ws(" ", col("tk")).as("sb")), "idb")
        .join(tok.select(col("id").as("ida"),
          concat_ws(" ", col("tk")).as("sa")), "ida")
      val verified = withTok
        .select(col("ida"), col("idb"),
          explode(charDupTokenPositions(minMatchChars)(
            col("ida").cast("string"), col("sa"), col("sb"))).as("e"))
        .select(when(col("e._1") === 0, col("ida")).otherwise(col("idb"))
          .as("id"), col("e._2").as("pos"))
      covered.unionByName(verified)
    }
    // Per-doc ARRAY reassembly (round 12): collect each doc's dropped
    // positions into one set (collect_set — the anti-join it replaces
    // tested existence, so overlap duplicates collapse here the same
    // way) and apply them with one native array op per row
    // (keep_except). Only the dropped POSITIONS shuffle (∝ duplicated
    // content); the token stream itself never leaves its scan — the
    // shuffled formulation re-exchanged every token three more times
    // (posexplode → anti-join → collect_list). Left join + empty-array
    // coalesce keeps untouched and fully-covered docs' rows alike.
    val dropArr = coveredAll.groupBy("id")
      .agg(collect_set(col("pos")).as("drop_ps"))
    val kept = graft.functions.TextHashExpressions.keepExcept(col("tk"),
      coalesce(col("drop_ps"), array().cast("array<int>")))
    tok.join(dropArr, Seq("id"), "left")
      .select(col("id"),
        concat_ws(" ", kept).as("clean_text"),
        size(col("tk")).as("n_tokens"),
        size(kept).cast("long").as("n_kept_tokens"))
  }

  /** WITHIN-doc repetition stripping — the intra-document complement of
    * `stripDupSpans` (cross-doc): a w-token span occurring MORE THAN
    * ONCE in the SAME document keeps its first occurrence and loses the
    * later ones (self-repeated boilerplate — nav bars, chorus lines,
    * generation loops — collapses to one copy; cross-doc sharing is
    * deliberately ignored here). A position is dropped iff it is
    * covered by some occurrence whose span string also occurs at an
    * earlier start in the doc AND it is not covered by any
    * first occurrence of its spans — i.e. coverage by the canonical
    * (min-start) occurrence of each repeated span protects the kept
    * copy.
    *
    * Shape: everything is per-doc, and since round 12 the operator
    * exploits that literally — one native-expression MAP over the
    * corpus (no explode, no aggregation, no join, no shuffle), the
    * strongest possible 100-TB posture: embarrassingly parallel,
    * partition-layout-indifferent, and immune to the planner join-mode
    * flips that bent the shuffled formulation's cost curve at the 100×
    * probe (BASELINE.md round 12).
    */
  def stripSelfRepeats(docs: DataFrame, textCol: String, idCol: String,
                       w: Int = 5): DataFrame =
    // Everything is within-ONE-document, so the operator is a pure MAP:
    // the native kernel (TextHashOps.selfRepeatKeep) does span hashing,
    // first-occurrence detection and coverage in one JVM call per row —
    // ZERO shuffles at any scale, where the DataFrame formulation below
    // (kept as the parity reference) paid ~10 corpus-sized exchanges.
    // Round-12 measurement: 3.65 s → sub-second at sf0.1; at the 100×
    // diversify fixture the shuffled form wrote 3.2 GB of shuffle and
    // its decade-2 cost bent super-linear purely from planner join-mode
    // flips (BASELINE.md round 12) — a map cannot bend. One semantic
    // note: rows with a DUPLICATE id are cleaned independently here
    // (per-row), where the shuffled form's groupBy would have merged
    // them; doc ids are unique by contract.
    tokenized(docs, textCol, idCol)
      .select(col("id"),
        graft.functions.TextHashExpressions.selfRepeatKeep(col("tk"), w)
          .as("kept"),
        size(col("tk")).as("n_tokens"))
      .select(col("id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept_tokens"))

  /** The shuffled DataFrame formulation stripSelfRepeats replaced —
    * kept as the independently-implemented parity reference for the
    * native kernel (DedupSpec asserts frame equality on the planted
    * fixture), exactly the winnowFingerprintsHof pattern.
    */
  private[graft] def stripSelfRepeatsShuffled(docs: DataFrame,
                                              textCol: String, idCol: String,
                                              w: Int = 5): DataFrame = {
    val tok = tokenized(docs, textCol, idCol)
    val spans = posSpans(tok, w)
    val firstStart = spans.groupBy("id", "s")
      .agg(min("start").as("fs"), count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val withFirst = spans.join(firstStart, Seq("id", "s"))
    def coverage(src: DataFrame): DataFrame = src.select(col("id"),
      explode(sequence(col("start"), col("start") + (w - 1))).as("pos"))
    val laterCover = coverage(withFirst.filter(col("start") > col("fs")))
    val firstCover = coverage(withFirst.filter(col("start") === col("fs")))
    val dropped = laterCover.join(firstCover, Seq("id", "pos"), "left_anti")
    reassembleWithout(tok, dropped)
  }

  /** WINNOWING fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * algorithm): hash every positional k-gram, then keep the minimum
    * hash of each w-hash window. The fingerprint set is ~2/(w+1) the
    * size of the full k-gram index yet GUARANTEES any shared run of
    * ≥ w + k − 1 tokens contributes at least one shared fingerprint —
    * sparse candidate generation with a detection floor, where plain
    * sampling would miss matches arbitrarily. Docs with fewer than w
    * k-grams keep their global min (the guarantee degenerates
    * gracefully); docs under k tokens have no fingerprints.
    *
    * The fingerprint SET is tie-rule-independent (any min-selection
    * rule picks the same VALUES per window), so both engines agree
    * without replicating robust-winnowing's positional tie-break.
    * Hashes are the md5-hex-prefix family every deterministic operator
    * here uses.
    *
    * Scale/eval shape: grams+hashes evaluate once per doc behind the
    * id exchange (the CollapseProject barrier — w window references
    * would otherwise re-inline the md5 chain per window); everything
    * after is per-row array arithmetic.
    */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
                         k: Int = 3, w: Int = 4): DataFrame =
    // native expression: gram hashing + window mins in one JVM call per
    // row, so no CollapseProject barrier (and no exchange) is needed —
    // the HOF twin below is the spec's parity reference
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("id"),
        graft.functions.TextHashExpressions.winnowFps(col("tk"), k, w)
          .as("fps"))

  /** The HOF formulation of winnowFingerprints — kept as the
    * independently-implemented parity reference for the native
    * expression (TextHashExprSpec asserts element-wise equality).
    */
  private[graft] def winnowFingerprintsHof(docs: DataFrame, textCol: String,
                                           idCol: String, k: Int = 3,
                                           w: Int = 4): DataFrame = {
    val tk = col("tk")
    val grams = when(size(tk) >= k,
      transform(sequence(lit(0), size(tk) - k),
        i => concat_ws(" ", slice(tk, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
    val hs = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .select(col("id"),
        transform(grams, g =>
          conv(substring(md5(g), 1, 8), 16, 10).cast("long")).as("hs"))
      .filter(size(col("hs")) > 0)
      // CollapseProject barrier: the window transform references hs w
      // times and would re-inline the md5 chain per reference
      .repartition(col("id"))
    hs.select(col("id"),
      array_distinct(
        when(size(col("hs")) >= w,
          transform(sequence(lit(1), size(col("hs")) - (w - 1)),
            j => array_min(slice(col("hs"), j, lit(w)))))
        .otherwise(array(array_min(col("hs"))))).as("fps"))
  }

  /** Copy-detection pairs over the winnowed index: docs sharing at least
    * `minShared` fingerprints, with the shared count. Same inverted-index
    * join as jaccardPairs but over the ~2/(w+1)-sparse fingerprint
    * stream — the posting lists the quadratic term feeds on are w+1
    * times shorter before any df-cut is even needed.
    *
    * `maxFpPop` > 0 drops STOP-FINGERPRINTS — fingerprints appearing in
    * more than that many documents — before the pair join, the MOSS
    * practice for boilerplate phrases (a fingerprint shared by hundreds
    * of docs is template noise, not copy signal, and its posting list
    * alone contributes pop²/2 candidate pairs: the quadratic term
    * measured at 30× scale, BASELINE.md round-10). LOSSY by contract:
    * a pair sharing ONLY stop-fingerprints is not reported, and
    * n_shared counts non-stop fingerprints only. 0 (the default, and
    * what the exact oracle query pins) disables the cut — that uncapped
    * form is the EXACTNESS BASELINE and is scale-unsafe; production
    * sets maxFpPop (q_winnow_pairs_capped, BASELINE.md 30× table).
    */
  def winnowPairs(docs: DataFrame, textCol: String, idCol: String,
                  minShared: Int = 2, k: Int = 3, w: Int = 4,
                  maxFpPop: Long = 0L): DataFrame = {
    // one fp-keyed exchange BOTH self-join sides reuse (ReuseExchange —
    // same trick as jaccardPairsPrefix): tokenize+hash runs once per
    // doc, not once per side, and the join is co-partitioned on fp
    val e0 = winnowFingerprints(docs, textCol, idCol, k, w)
      .select(col("id"), explode(col("fps")).as("fp"))
      .repartition(col("fp"))
    val e =
      if (maxFpPop <= 0) e0
      else { // co-partitioned count + anti-join: no extra exchange on e0
        val hot = e0.groupBy("fp").agg(count(lit(1)).as("pop"))
          .filter(col("pop") > maxFpPop).select("fp")
        e0.join(hot, Seq("fp"), "left_anti")
      }
    e.select(col("id").as("ida"), col("fp"))
      .join(e.select(col("id").as("idb"), col("fp").as("fp_b")),
        col("fp") === col("fp_b") && col("ida") < col("idb"))
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-corpus EXACT contamination: eval-set documents whose
    * normalized text also appears in the training corpus — the
    * decontamination check every training pipeline runs against its
    * benchmark/eval sets. One fingerprint equi-join; the shuffle carries
    * (hash, id) pairs only. Column names are prefixed eval_/corpus_ so
    * both sides' ids survive into the report.
    */
  def crossExactMatches(corpus: DataFrame, evalSet: DataFrame,
                        textCol: String, idCol: String): DataFrame = {
    val c = corpus.select(fingerprint(col(textCol)).as("fp"),
      col(idCol).as("corpus_id"))
    val e = evalSet.select(fingerprint(col(textCol)).as("fp"),
      col(idCol).as("eval_id"))
    e.join(c, "fp").select("eval_id", "corpus_id", "fp")
  }

  /** crossExactMatches with a Bloom pre-filter — the 100-TB posture for
    * decontamination. The equi-join above is already eval-driven, but it
    * still shuffles EVERY corpus fingerprint; at 100 TB that exchange is
    * the whole job. Here a Bloom filter of the (small) eval fingerprint
    * set is built once (distributed treeAggregate, merged on the driver,
    * ~1.2 bytes/item at 1% fpp — a 10M-row eval suite is ~12 MB) and
    * broadcast as a narrow boolean prefilter ahead of the join: ≥99% of
    * corpus rows drop BEFORE the exchange, never shuffling at all. False
    * positives (the ~1%) survive only to the exact join, so the RESULT is
    * bit-identical to crossExactMatches — which is why the same oracle
    * verifies both. The membership test is a driver-object UDF, the one
    * place a UDF is the right tool: no built-in expression carries a
    * broadcast BloomFilter, and it gates rows off the shuffle path rather
    * than sitting in a per-row compute loop.
    */
  def crossExactMatchesBloom(corpus: DataFrame, evalSet: DataFrame,
                             textCol: String, idCol: String,
                             fpp: Double = 0.01): DataFrame = {
    // the eval projection feeds three actions (size count, BF build,
    // final join); persisted so the two EAGER actions here share one
    // lineage run, then unpersisted before returning — the lazy join in
    // the result recomputes the (small by contract) eval side once
    // rather than pinning executor storage for the session's lifetime
    val e = evalSet.select(fingerprint(col(textCol)).as("fp"),
      col(idCol).as("eval_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nEval = math.max(e.count(), 1L)
      val bloom = e.stat.bloomFilter("fp", nEval, fpp)
      // the broadcast's lifetime is the returned plan's: once the caller
      // releases the DataFrame the UDF closure (the only reference)
      // becomes unreachable and ContextCleaner destroys the broadcast —
      // no explicit destroy is possible for a lazily-consumed result
      val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
      val mightContain = udf((fp: String) => bc.value.mightContainString(fp))
      val c = corpus.select(fingerprint(col(textCol)).as("fp"),
        col(idCol).as("corpus_id"))
        .filter(mightContain(col("fp")))
      val eJoin = evalSet.select(fingerprint(col(textCol)).as("fp"),
        col(idCol).as("eval_id"))
      eJoin.join(c, "fp").select("eval_id", "corpus_id", "fp")
    } finally e.unpersist()
  }

  /** N-GRAM-OVERLAP decontamination: training-corpus documents that
    * contain any w-token span also present in the eval set — the
    * span-granular check (the GPT-3 paper ran it with 13-grams) that
    * catches PARTIAL leakage both doc-level checks miss: an eval answer
    * quoted inside an otherwise-original train doc is no exact dup and
    * usually no near-dup, but it still leaks the benchmark.
    *
    * Returns one row per CONTAMINATED corpus doc:
    * (corpus_id, n_spans, n_hit_spans, hit_frac) — the fraction a
    * trim-or-drop policy thresholds on.
    *
    * Scale shape: the eval span set (per-doc-distinct w-grams, globally
    * distinct'd) is tiny next to the corpus — the join is eval-driven and
    * AQE broadcasts it below threshold; the corpus side is one explode +
    * one keyed aggregation, linear in corpus token count. No self-join,
    * no pair generation. At 100 TB hash the span string to 64/128 bits
    * before the exchange (string kept here so the DuckDB oracle is
    * exact — same trade as spanDupStats).
    */
  def crossSpanMatches(corpus: DataFrame, evalSet: DataFrame,
                       textCol: String, idCol: String,
                       w: Int = 13): DataFrame =
    spanMatches(corpus, evalSpans(evalSet, textCol, w), textCol, idCol, w)

  /** The globally-distinct w-token span set of an eval suite — the probe
    * index `crossSpanMatches` builds inline and `streamDecontam`
    * precomputes once and reuses across every micro-batch (it is
    * eval-suite-sized: tiny next to any training corpus).
    */
  def evalSpans(evalSet: DataFrame, textCol: String, w: Int = 13): DataFrame =
    evalSet
      .select(explode(wordShingles(tokens(col(textCol)), w)).as("s"))
      .distinct()

  /** Per-corpus-doc span stats against a prebuilt span set (the second
    * half of `crossSpanMatches` — ONE definition of the corpus-side
    * explode/join/aggregate serves the batch and streaming paths, which
    * must never diverge). `spans` must be a single-column (s) frame of
    * distinct w-token spans.
    */
  def spanMatches(corpus: DataFrame, spans: DataFrame, textCol: String,
                  idCol: String, w: Int = 13): DataFrame = {
    val cs = corpus
      .select(col(idCol).as("corpus_id"),
        wordShingles(tokens(col(textCol)), w).as("sh"))
      .filter(size(col("sh")) > 0)
      // CollapseProject barrier (same as shingled()): without it the
      // size filter, the n_spans projection, and the explode each
      // re-inline the tokenize+shingle chain — ~3 full tokenization
      // passes over the corpus
      .repartition(col("corpus_id"))
      .select(col("corpus_id"), size(col("sh")).as("n_spans"),
        explode(col("sh")).as("s"))
    cs.join(spans, "s")
      .groupBy("corpus_id", "n_spans")
      .agg(count(lit(1)).as("n_hit_spans"))
      .withColumn("hit_frac",
        round(col("n_hit_spans").cast("double") / col("n_spans"), 6))
      .select("corpus_id", "n_spans", "n_hit_spans", "hit_frac")
  }

  /** Cross-corpus NEAR contamination: eval docs sharing a MinHash band
    * bucket with a corpus doc, verified by exact shingle Jaccard ≥
    * threshold — catches paraphrased/partially-copied leakage that the
    * exact check misses. Same banded structure as `minhashLshPairs`, but
    * the band join is eval × corpus (the tiny eval side drives it) so
    * candidate work is linear in the eval set, not the corpus.
    */
  def crossNearMatches(corpus: DataFrame, evalSet: DataFrame,
                       textCol: String, idCol: String,
                       threshold: Double, n: Int = 3,
                       bands: Int = 4, r: Int = 3): DataFrame = {
    val ct = shingled(corpus, textCol, idCol, n)
    val et = shingled(evalSet, textCol, idCol, n)
    def banded(t: DataFrame, p: String) = t.select(col("id").as(s"${p}_id"),
      posexplode(lshBandKeys(col("sh"), bands, r)).as(Seq("band", "key")))
    val cand = banded(et, "eval")
      .join(banded(ct, "corpus").withColumnRenamed("band", "band_c")
          .withColumnRenamed("key", "key_c"),
        col("band") === col("band_c") && col("key") === col("key_c"))
      .select("eval_id", "corpus_id")
      .distinct()
    jaccardVerified(cand, et, ct, "eval_id", "corpus_id", threshold)
  }

  /** 60-bit SimHash per document. Token hashes come from md5 hex digits
    * (4 bits per digit, small-integer arithmetic only) so the identical
    * value is computable in any engine — no engine-specific hash, no
    * dynamic bit shifts. bit b of the result = majority vote of bit b
    * across token hashes (strict majority; ties → 0).
    */
  def simhashDocs(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // Native expression: one md5 + bit-vote loop per row in plain JVM code
    // (the HOF formulation needed two exchange barriers just to stop
    // Catalyst re-inlining its 60-reference vote array; this needs none).
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), simhash60(col("toks")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found via
    * 4×15-bit chunk LSH (pigeonhole: distance ≤ 3 ⇒ some chunk equal) —
    * an equi-join on (chunk_idx, chunk_value), never a cross product.
    *
    * EXACTNESS BASELINE, scale-unsafe: the 2^15 bucket space per chunk
    * saturates once docs ≫ 32k and candidates go quadratic (measured at
    * 30×, BASELINE.md round-10 table). Production = [[simhashPairsWide]]
    * (4×30-bit chunks); this stays as the small-corpus oracle twin.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(0 <= maxHamming && maxHamming <= 3,
      s"simhashPairs: maxHamming $maxHamming out of [0, 3] — four chunks " +
        "guarantee a shared bucket only up to distance 3")
    val sh = simhashDocs(docs, textCol, idCol)
    val chunks = array(
      shiftright(col("simhash"), 0).bitwiseAND(lit(32767L)),
      shiftright(col("simhash"), 15).bitwiseAND(lit(32767L)),
      shiftright(col("simhash"), 30).bitwiseAND(lit(32767L)),
      shiftright(col("simhash"), 45).bitwiseAND(lit(32767L)))
    val e = sh.select(col("id"), col("simhash"),
      posexplode(chunks).as(Seq("c", "v")))
    // verify before the pair-dedup shuffle, as in bucketPairs
    e.select(col("id").as("ida"), col("simhash").as("ha"),
        col("c"), col("v"))
      .join(e.select(col("id").as("idb"), col("simhash").as("hb"),
          col("c").as("cb"), col("v").as("vb")),
        col("c") === col("cb") && col("v") === col("vb") &&
          col("ida") < col("idb"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("ida", "idb")
      .select("ida", "idb", "hamming")
  }

  // ------------------------------------------------------------------
  // 120-bit SimHash near-dup pairs. The four public routes below share
  // one sketch, one bucket explode and one verify; they differ only in
  // which members of a bucket pair with whom. Every route dedups the
  // (ida, idb) pair once, at its end: a pair can share up to four
  // buckets, and the Hamming value is a function of the pair.
  // ------------------------------------------------------------------

  /** The unpinned 120-bit sketch (id, h1, h2): simhash60 ∥ simhash60Tail,
    * the two md5 hex halves with one vote loop each. Why 120 bits: the
    * 60-bit [[simhashPairs]]' 2^15 buckets per chunk SATURATE on a
    * same-vocabulary corpus once docs ≫ 32k, and candidates go quadratic
    * (BASELINE.md round-10). Capping hot buckets would be a recall hole,
    * not a tail cut; 30-bit chunks move saturation from ~10⁵ to ~10⁹
    * docs per chunk value under the same pigeonhole guarantee, with a
    * finer similarity (3 flipped bits of 120 ≈ 97.5% bitwise agreement
    * vs 95% of 60).
    *
    * Every wide route starts here, so this is where `maxHamming` is
    * bounded: four chunks guarantee a shared bucket only for distance
    * ≤ 3 (pigeonhole), and a larger bound would silently drop pairs.
    */
  private def wideSketch(docs: DataFrame, textCol: String, idCol: String,
                         maxHamming: Int): DataFrame = {
    require(0 <= maxHamming && maxHamming <= 3,
      s"simhash: maxHamming $maxHamming out of [0, 3] — four chunks " +
        "guarantee a shared bucket only up to distance 3")
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), simhash60(col("toks")).as("h1"),
        simhash60Tail(col("toks")).as("h2"))
  }

  /** One row per (doc, chunk): (id, h1, h2, c, v) with `v` the c-th
    * 30-bit chunk of h1 ∥ h2 — the (c, v) bucket key. Any pair within
    * Hamming 3 agrees on at least one chunk, so it shares a bucket;
    * candidates are therefore an EQUI-join on (c, v), never a theta join.
    */
  private def wideBuckets(sh: DataFrame): DataFrame = {
    val mask30 = (1L << 30) - 1
    sh.select(col("id"), col("h1"), col("h2"),
      posexplode(array(
        col("h1").bitwiseAND(lit(mask30)),
        shiftright(col("h1"), 30).bitwiseAND(lit(mask30)),
        col("h2").bitwiseAND(lit(mask30)),
        shiftright(col("h2"), 30).bitwiseAND(lit(mask30))))
        .as(Seq("c", "v")))
  }

  /** Exact 120-bit Hamming distance between the sketches in columns
    * `a`1/`a`2 and `b`1/`b`2 — two codegen'd bit_counts.
    */
  private def hamming120(a: String, b: String): Column =
    bit_count(col(a + "1").bitwiseXOR(col(b + "1"))) +
      bit_count(col(a + "2").bitwiseXOR(col(b + "2")))

  /** Every verified pair (ida < idb, hamming ≤ maxHamming) within the
    * buckets of `e` (a [[wideBuckets]] frame, possibly filtered), not
    * deduplicated. The verify runs BEFORE the caller's pair dedup: it is
    * a per-row function of columns already riding the join, while the
    * dedup shuffles every row it sees, and on dup-heavy corpora
    * candidates outnumber verified pairs ~400:1 (d300: 27.6M → 67k,
    * BASELINE.md round 15).
    */
  private def bucketPairs(e: DataFrame, maxHamming: Int): DataFrame =
    e.select(col("id").as("ida"), col("h1").as("ha1"),
        col("h2").as("ha2"), col("c"), col("v"))
      .join(e.select(col("id").as("idb"), col("h1").as("hb1"),
          col("h2").as("hb2"), col("c").as("cb"), col("v").as("vb")),
        col("c") === col("cb") && col("v") === col("vb") &&
          col("ida") < col("idb"))
      .withColumn("hamming", hamming120("ha", "hb"))
      .filter(col("hamming") <= maxHamming)
      .select("ida", "idb", "hamming")

  /** Each bucket member of `e` next to its bucket's hub: `hubs` holds
    * (c, v, hub, …) per bucket, and `hham` is the member's Hamming to
    * the hub's sketch (looked up in `sh` by id).
    */
  private def withHub(e: DataFrame, hubs: DataFrame,
                      sh: DataFrame): DataFrame =
    e.join(hubs, Seq("c", "v"))
      .join(sh.select(col("id").as("hub"), col("h1").as("hh1"),
        col("h2").as("hh2")), "hub")
      .withColumn("hham", hamming120("h", "hh"))

  /** The star edges of a [[withHub]] frame: hub−member for every member
    * that passes its hub verify, not deduplicated. least/greatest, not
    * (hub, id): a hub that is not its bucket's min id would otherwise
    * emit ida > idb, and the same pair arriving ordered from another
    * bucket would survive the final dedup twice.
    */
  private def starEdges(wh: DataFrame, maxHamming: Int): DataFrame =
    wh.filter(col("id") =!= col("hub") && col("hham") <= maxHamming)
      .select(least(col("hub"), col("id")).as("ida"),
        greatest(col("hub"), col("id")).as("idb"),
        col("hham").as("hamming"))

  /** The CONNECTIVITY-CLOSED edges of a [[withHub]] frame, not
    * deduplicated: the star, plus every verified pair touching a member
    * that FAILED its hub verify (re-enumerated against all `members` of
    * its bucket; the hub pair re-fails, so no special case). The only
    * verified edges left out are passed−passed pairs, whose endpoints
    * already connect through the hub — so per bucket the components
    * equal those of the bucket's full verified graph, for any hub.
    */
  private def closedEdges(wh: DataFrame, members: DataFrame,
                          maxHamming: Int): DataFrame = {
    val patch = wh
      .filter(col("id") =!= col("hub") && col("hham") > maxHamming)
      .select(col("c"), col("v"), col("id").as("fa"),
        col("h1").as("fa1"), col("h2").as("fa2"))
      .join(members.select(col("c"), col("v"), col("id").as("ob"),
        col("h1").as("ob1"), col("h2").as("ob2")), Seq("c", "v"))
      .filter(col("fa") =!= col("ob"))
      .select(least(col("fa"), col("ob")).as("ida"),
        greatest(col("fa"), col("ob")).as("idb"),
        hamming120("fa", "ob").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    starEdges(wh, maxHamming).unionByName(patch)
  }

  /** The sketch pinned and filled once, so the consumers that follow
    * read one tokenize+simhash pass (lazily, each side of the self-join
    * re-hashed the corpus). The label is shared by every wide route.
    */
  private def pinnedSketch(docs: DataFrame, textCol: String, idCol: String,
                           maxHamming: Int): DataFrame =
    graft.operators.Artifacts.pinEager(
      wideSketch(docs, textCol, idCol, maxHamming), "simhash.sketch")

  /** ALL verified near-dup pairs: (ida, idb, hamming) with ida < idb and
    * exact 120-bit Hamming ≤ `maxHamming` (0–3) — the exact pair set,
    * the scale twin of [[simhashPairs]]. Each bucket enumerates
    * n(n−1)/2 candidates, so a huge tight cluster costs quadratically in
    * its size. Use it when the pair list is the product; for clustering
    * use [[simhashPairsWideAdaptive]].
    */
  def simhashPairsWide(docs: DataFrame, textCol: String, idCol: String,
                       maxHamming: Int = 3): DataFrame = {
    val sh = pinnedSketch(docs, textCol, idCol, maxHamming)
    bucketPairs(wideBuckets(sh), maxHamming).dropDuplicates("ida", "idb")
  }

  /** A SPANNING subset of [[simhashPairsWide]]: per bucket, every member
    * that verifies against the bucket's MIN id pairs with it (a star:
    * n−1 candidates instead of n(n−1)/2).
    *
    * Lossy on one side only: the star is a subgraph of the verified
    * all-pairs graph, so components can split, never merge wrongly.
    * Clusters whose members all sit within `maxHamming` of the bucket
    * min (replica/template dups) connect identically; a Hamming chain
    * a−b−c whose only passing links run through b loses a−c when b is
    * never a bucket min (cleanCorpusBest kept 0.47% / 0.90% more docs at
    * d100 / d300, BASELINE.md round 15). Use it only where linear
    * candidates matter more than those links; for exact components use
    * [[simhashPairsWideAdaptive]].
    */
  def simhashStarPairsWide(docs: DataFrame, textCol: String, idCol: String,
                           maxHamming: Int = 3): DataFrame = {
    val sh = pinnedSketch(docs, textCol, idCol, maxHamming)
    val e = wideBuckets(sh)
    starEdges(withHub(e, e.groupBy("c", "v").agg(min(col("id")).as("hub")),
      sh), maxHamming).dropDuplicates("ida", "idb")
  }

  /** [[simhashStarPairsWide]]'s star PLUS every verified pair touching a
    * member that fails its bucket-min hub verify — a subset of
    * [[simhashPairsWide]] with IDENTICAL connected components: every
    * true pair shares a bucket (pigeonhole), and per bucket the closed
    * edges connect what the full verified graph connects (see
    * [[closedEdges]]). DedupSpec pins a planted chain and a randomized
    * components-equality property; q_dedup_clusters_simhash_closed
    * checks it against DuckDB's all-pairs recursive closure.
    *
    * Cost per bucket: (n−1) star + |failed|·(n−1) patch candidates —
    * linear while the hub represents its bucket, toward all-pairs in a
    * bucket whose hub represents nobody. [[simhashPairsWideAdaptive]]
    * bounds that case per bucket and is the one to use for clustering.
    */
  def simhashStarPairsWideClosed(docs: DataFrame, textCol: String,
                                 idCol: String, maxHamming: Int = 3)
      : DataFrame = {
    val sh = pinnedSketch(docs, textCol, idCol, maxHamming)
    val e = wideBuckets(sh)
    closedEdges(withHub(e, e.groupBy("c", "v").agg(min(col("id")).as("hub")),
      sh), e, maxHamming).dropDuplicates("ida", "idb")
  }

  /** PER-BUCKET ADAPTIVE near-dup pairs for clustering — the pipeline
    * default (PipelineBench's near-dup stage and the curation benchmark
    * call it). The choice between all-pairs and the closed star is made
    * per (chunk, value) bucket off its population `n`:
    *
    *  - n ≤ `bucketBound`: all verified pairs of the bucket;
    *  - n > `bucketBound`: the closed star around the bucket's
    *    MODE-SIGNATURE member (most frequent (h1, h2), min id within it —
    *    a low-id stranger colliding into a replica bucket cannot capture
    *    the hub), unless more than half the members fail the hub verify
    *    (f > n/2, where the patch's f·(n−1) would exceed n(n−1)/2): then
    *    all verified pairs of the bucket. Per-bucket cost is ~min(closed,
    *    all-pairs) for any hub.
    *
    * CONTRACT — exact for clustering, adaptive in cost: every bucket
    * emits its full verified graph or its closed edges, so the union has
    * the connected components of [[simhashPairsWide]] for ANY bound; only
    * cost depends on the bound. The pair set is sandwiched: closed-shaped
    * ⊆ adaptive ⊆ all-pairs, and equals [[simhashPairsWide]] when no
    * bucket exceeds the bound. Use [[simhashPairsWide]] when the pair list
    * is the product. q_dedup_clusters_simhash_adaptive checks the
    * components against DuckDB's all-pairs recursive closure.
    *
    * GUARD: one bounded histogram action over the pinned sketch's buckets
    * runs first and is memoized per (pinned sketch, bound) via
    * [[graft.operators.Artifacts.memo]], so repeat calls in a session pay
    * it once. With no bucket over the bound, the plain all-pairs plan
    * runs with no dispatch joins. The hot-bucket list is pinned and
    * broadcast, so the same action fails loudly
    * (IllegalArgumentException naming `bucketBound`) when more than
    * `maxHotBuckets` buckets exceed the bound: then the bound sits below
    * the corpus's normal bucket population, and the bound must move. The
    * action makes the operator construction-eager.
    *
    * Default bound 1024: a 1024-member bucket is ~5·10⁵ candidates of
    * map-side verify work, while a 10⁴-copy template cluster (5·10⁷ per
    * bucket) dispatches closed (BASELINE.md "Round-16 measurement: the
    * adaptive per-bucket dispatch").
    */
  def simhashPairsWideAdaptive(docs: DataFrame, textCol: String,
                               idCol: String, maxHamming: Int = 3,
                               bucketBound: Int = 1024,
                               maxHotBuckets: Long = 65536L): DataFrame = {
    // LAZY pin: the guard histogram is always the first action over the
    // sketch, so it fills the cache; an eager pin would build the sketch
    // in a count() job only for the histogram to scan it again. A memo
    // hit implies the same sketch plan was pinned and measured in this
    // session (releaseAll clears memos with the pins).
    val sh = graft.operators.Artifacts.pin(
      wideSketch(docs, textCol, idCol, maxHamming), "simhash.sketch")
    val e = wideBuckets(sh)
    val (hottest, hotBuckets) =
      graft.operators.Artifacts.memo(sh, s"adaptive.hist.b=$bucketBound") {
        val r = e.groupBy("c", "v").agg(count(lit(1)).as("n"))
          .agg(coalesce(max(col("n")), lit(0L)),
            count(when(col("n") > bucketBound, lit(1)))).head()
        (r.getLong(0), r.getLong(1))
      }
    require(hotBuckets <= maxHotBuckets,
      s"simhashPairsWideAdaptive: $hotBuckets buckets exceed " +
        s"bucketBound=$bucketBound (maxHotBuckets=$maxHotBuckets). The " +
        "hot-bucket list is pinned and broadcast into the routing joins " +
        "on a driver-small contract; a hot-list this large means the " +
        "bound sits BELOW this corpus's normal bucket population. Raise " +
        "bucketBound above the typical bucket size (hottest bucket seen: " +
        s"$hottest), or raise maxHotBuckets if a broadcast of that many " +
        "(chunk, value, n, hub) rows is genuinely affordable.")
    if (hottest <= bucketBound)
      bucketPairs(e, maxHamming).dropDuplicates("ida", "idb")
    else {
      // The hot list (c, v, n, hub): over-bound buckets only, pinned
      // because the anti-join and the hub join both read it, and
      // broadcast into both — the guard above keeps it driver-small.
      // hub = min_by over (−count, id); only the count is negated, so a
      // STRING id survives, and (−sc, sid) keys are distinct in a bucket.
      val sigc = e.groupBy("c", "v", "h1", "h2")
        .agg(count(lit(1)).as("sc"), min(col("id")).as("sid"))
      val hot = graft.operators.Artifacts.pinEager(
        sigc.groupBy("c", "v")
          .agg(sum(col("sc")).as("n"),
            min_by(col("sid"),
              struct((-col("sc")).as("nsc"), col("sid").as("tid")))
              .as("hub"))
          .filter(col("n") > bucketBound),
        "simhash.adaptive.hot")
      val small = bucketPairs(
        e.join(broadcast(hot.select("c", "v")), Seq("c", "v"), "left_anti"),
        maxHamming)
      // f = hub-verify failures per hot bucket, known before any patch
      // is enumerated; pinned because the three branches below read it
      val wh = withHub(e, broadcast(hot), sh)
      val fails = wh
        .filter(col("id") =!= col("hub") && col("hham") > maxHamming)
        .groupBy("c", "v").agg(count(lit(1)).as("f"))
      val wf = graft.operators.Artifacts.pinEager(
        wh.join(fails, Seq("c", "v"), "left").na.fill(0L, Seq("f")),
        "simhash.adaptive.wf")
      val closedSide = wf.filter(col("f") * 2 <= col("n"))
      small
        .unionByName(closedEdges(closedSide, closedSide, maxHamming))
        .unionByName(bucketPairs(wf.filter(col("f") * 2 > col("n")),
          maxHamming))
        .dropDuplicates("ida", "idb")
    }
  }

  /** Fuzzy-duplicate pairs under a Levenshtein edit-distance threshold —
    * the entity-resolution-style dedup for corpora where near-dups differ
    * by small in-place edits (OCR noise, template fills, typo variants)
    * rather than block moves.
    *
    * A naive formulation is a cross join with an O(n·m) distance per pair —
    * unrunnable past toy scale. This uses two LOSSLESS prefilters from the
    * approximate-string-join literature (count filtering, Gravano et al.,
    * VLDB 2001) so the quadratic verify only ever touches near-certain
    * pairs:
    *
    *  1. length blocking: ed(a,b) ≤ d ⇒ |len(a)−len(b)| ≤ d. Docs carry a
    *     band = len div (d+1); qualifying pairs sit in the same or adjacent
    *     band, so candidates come from two EQUI-joins on the band key
    *     (same-band with id ordering + next-band), never a cross product.
    *  2. character-frequency (L1) filtering: each edit changes at most two
    *     character counts by one, so ed(a,b) ≤ d ⇒ Σ_c |cnt_a(c)−cnt_b(c)|
    *     ≤ 2d. The 27-bin histogram (a-z + space; restricting to a subset
    *     of the alphabet only weakens the bound, so it stays lossless) is
    *     computed ONCE per doc before the join; the per-candidate check is
    *     27 integer ops against an O(d·len) distance it almost always
    *     avoids.
    *
    * Survivors are verified with Spark's threshold form
    * `levenshtein(a, b, d)`, which abandons a pair as soon as the running
    * distance exceeds d (banded DP — O(d·len), not O(len²)).
    *
    * 100-TB note — `maxBandPop`, the band-population contract (same role
    * as `maxShingleFreq` on the Jaccard family): band keys are length
    * values — low-cardinality, so a corpus whose lengths cluster (fixed
    * context-window chunks, form letters) piles millions of docs into ONE
    * band and the same-band equi-join is quadratic in that band's
    * population, long before the L1 count filter can help. The operator
    * therefore measures the hottest band up front (one cheap action over
    * the pruned (band) projection) and, when it exceeds `maxBandPop`,
    * swaps candidate generation to MinHash+LSH banding
    * (`lshCandidates(n=3, bands=16, r=2)` → `editDistanceVerify`) whose
    * shuffle is linear in corpus size. The histogram + threshold-DP
    * verify machinery is identical on both routes; only candidate
    * generation swaps.
    *
    *  - Default 10000: a hot band of 10k docs is ~5·10⁷ candidate rows —
    *    seconds of codegen'd L1 filtering on a cluster; at 100k it would
    *    be ~5·10⁹ rows / ~200 GB of shuffle for that one band, which is
    *    why the default sits at 10k.
    *  - The length-band route is LOSSLESS; the LSH route's recall follows
    *    the banding S-curve (t* = (1/16)^(1/2) = 0.25 — near-edit dups at
    *    realistic doc lengths have word-shingle Jaccard ≫ 0.25, so the
    *    miss probability is negligible, but it is not a proof). Callers
    *    needing the lossless guarantee above the bound should pre-block
    *    themselves and call `editDistanceVerify` directly.
    *  - Docs with FEWER THAN 3 TOKENS have no 3-shingles and would be
    *    absolutely invisible to the banding (a hard recall hole, not an
    *    S-curve one), so the reroute keeps them on the lossless band
    *    join: the short side probes the WHOLE corpus's ±1 length bands
    *    via exploded band keys (equi-join, never a theta join), so
    *    short-short and short-long pairs all survive. Only the
    *    short-short block is quadratic, and only in the short-doc
    *    subpopulation — a corpus that is MOSTLY sub-3-token rows is
    *    below the granularity any shingle blocking can see and needs a
    *    field-level equality key instead.
    *  - `maxBandPop = 0` disables both the up-front measurement and the
    *    reroute: always the exact length-band join (tests/oracles).
    *  - When `maxBandPop > 0` the band measurement runs as one narrow
    *    aggregation job AT CALL TIME (this function is not purely lazy):
    *    the reroute decision must exist before a plan can. Pass 0 for
    *    plan-only construction.
    *
    * Returns (ida, idb, dist) with ida < idb, dist ≤ maxDist.
    */
  def editDistancePairs(docs: DataFrame, textCol: String, idCol: String,
                        maxDist: Int = 8,
                        maxBandPop: Long = 10000L): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    if (maxBandPop > 0) {
      val hot = docs
        .select(floor(length(col(textCol)) / lit(maxDist + 1)).as("band"))
        .groupBy("band").count()
        .agg(max("count").as("m")).head()
      val hottest = if (hot.isNullAt(0)) 0L else hot.getLong(0)
      if (hottest > maxBandPop) {
        // Loud, because recall semantics change: the length-band route is
        // lossless, the LSH route follows the banding S-curve. A silent
        // swap would make a recall change unobservable in production logs.
        logWarning(s"editDistancePairs: hottest length band holds $hottest " +
          s"docs (> maxBandPop=$maxBandPop); rerouting candidate generation " +
          "to MinHash-LSH banding (recall follows the S-curve, t*=0.25). " +
          "Pass maxBandPop=0 to force the lossless length-band join.")
        return editDistanceVerify(
          lshRouteCandidates(docs, textCol, idCol, maxDist),
          docs, textCol, idCol, maxDist)
      }
    }
    // The blocking join carries ONLY (id, len, band, hist) — text never
    // rides the candidate shuffle. hist is the one-pass native charHist27
    // (27 ints); the per-pair L1 check is the codegen'd l1Dist, not an
    // interpreted zip_with/aggregate lambda chain. Texts are re-joined by
    // id for the (few) survivors only, in verifyWithTexts.
    val base = docs
      .select(col(idCol).as("id"), length(col(textCol)).as("len"),
        floor(length(col(textCol)) / lit(maxDist + 1)).as("band"),
        charHist27(col(textCol)).as("hist"))
    val a = base.select(col("id").as("ida"),
      col("len").as("la"), col("band").as("ba"), col("hist").as("ha"))
    val b = base.select(col("id").as("idb"),
      col("len").as("lb"), col("band").as("bb"), col("hist").as("hb"))
    // Same-band pairs once via id ordering; adjacent-band pairs once via
    // the band ordering itself (ba+1 = bb) — the two sets are disjoint,
    // so no distinct is needed and ids are normalized at the end.
    val sameBand = a.join(b,
      col("ba") === col("bb") && col("ida") < col("idb"))
    val nextBand = a.join(b, col("ba") + lit(1) === col("bb"))
    val cands = sameBand.unionByName(nextBand)
      .filter(abs(col("la") - col("lb")) <= maxDist)
      .filter(l1Dist(col("ha"), col("hb")) <= lit(2 * maxDist))
      .select(least(col("ida"), col("idb")).as("ida"),
        greatest(col("ida"), col("idb")).as("idb"))
    verifyWithTexts(cands, docs, textCol, idCol, maxDist)
  }

  /** Candidate generation for the LSH reroute — the EXACT generator
    * `editDistancePairs` swaps to above `maxBandPop`, public so queries and
    * external callers composing the 100-TB route stay bit-consistent with
    * the reroute instead of re-deriving it:
    *  - docs with ≥ 3 tokens go through MinHash-LSH banding
    *    (`lshCandidates(n=3, bands=16, r=2)`, t* = 0.25) — shuffle linear
    *    in corpus size, bounded by bucket population;
    *  - docs with < 3 tokens have no 3-shingles and would be INVISIBLE to
    *    the banding (a hard recall hole, not an S-curve one), so the short
    *    side probes the whole corpus's ±1 length bands via exploded band
    *    keys — an equi-join on (band), linear in corpus size plus the
    *    (short-subpopulation-bounded) pair volume.
    * Returns distinct (ida, idb) with ida < idb, ready for
    * `editDistanceVerify`.
    */
  def lshRouteCandidates(docs: DataFrame, textCol: String, idCol: String,
                         maxDist: Int): DataFrame = {
    val nToks = size(tokens(col(textCol)))
    val lsh = lshCandidates(docs.filter(nToks >= 3), textCol, idCol,
      n = 3, bands = 16, r = 2)
    // short side × whole corpus on exploded ±1 band keys: an
    // equi-join on (band), linear in corpus size + short-pair volume
    val shortSide = docs.filter(nToks < 3)
      .select(col(idCol).as("ids"),
        explode(array(Seq(-1, 0, 1).map(d =>
          floor(length(col(textCol)) / lit(maxDist + 1)) + lit(d)): _*))
          .as("bp"))
    val allSide = docs.select(col(idCol).as("ido"),
      floor(length(col(textCol)) / lit(maxDist + 1)).as("bo"))
    val shortCands = shortSide
      .join(allSide, col("bp") === col("bo") && col("ids") =!= col("ido"))
      .select(least(col("ids"), col("ido")).as("ida"),
        greatest(col("ids"), col("ido")).as("idb"))
    lsh.unionByName(shortCands).distinct()
  }

  /** The 100-TB composition documented at editDistancePairs: verify an
    * EXTERNAL candidate-pair stream (minhash/LSH bands, simhash chunks,
    * any blocking scheme) at Levenshtein ≤ maxDist. Texts, lengths, and
    * char-frequency histograms are computed once per doc and re-joined by
    * id (candidates never carry text through the blocking shuffle), then
    * the same length block → L1 count filter → banded threshold DP as the
    * self-contained operator.
    *
    * `cands` needs (ida, idb) with ida < idb; output (ida, idb, dist).
    *
    * Candidates materialize eagerly (not purely lazy): the pair frame
    * persists so the corpus can be pruned to candidate MEMBERS (one
    * semi-join) before lengths/histograms/texts are computed — the lazy
    * formulation scanned the FULL corpus four times per call (two
    * feature joins + two text joins) and computed per-doc features on
    * every row for a survivor-sparse pair set (round-13 plan audit).
    */
  def editDistanceVerify(cands: DataFrame, docs: DataFrame,
                         textCol: String, idCol: String,
                         maxDist: Int = 8): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // PIN GROWTH NOTE (ADVICE r18): each pinEager below registers one
    // entry PER DISTINCT INPUT PLAN and pays one eager count() at call
    // time — an incremental caller feeding distinct per-batch inputs
    // accumulates session-lived pins until the suite-end releaseAll
    // sweep (the documented artifact posture; repeat calls on the SAME
    // input dedupe via the CacheManager). The pins cannot be released
    // at the end of this call: the returned plan is LAZY and its
    // InMemoryTableScans read these very cache entries when the caller
    // finally acts — an unpersist here would silently re-run the
    // corpus-sized subtrees once per downstream consumer, exactly the
    // 2-4× the pins exist to prevent. Per-batch callers that never
    // re-execute a batch's result should releaseAll between batches.
    val c = graft.operators.Artifacts.pinEager(cands.select("ida", "idb"),
      "fuzzy.candidates")
    val candIds = c
      .select(explode(array(col("ida"), col("idb"))).as(idCol)).distinct()
    val pruned = docs.join(candIds, Seq(idCol), "left_semi")
    // pinned like the candidate frame above: the filter chain joins this
    // per-doc feature table TWICE (ida side, idb side), and lazily each
    // join re-ran the corpus semi-join + histogram subtree (round-18
    // plan audit: the duplicated subtree was the largest block of
    // q_dedup_fuzzy_lsh's 128-exchange plan). Features are candidate-
    // member-sparse by the same argument as the candidates themselves.
    val t = graft.operators.Artifacts.pinEager(
      pruned.select(col(idCol).as("__vid"),
        length(col(textCol)).as("__vl"), charHist27(col(textCol)).as("__vh")),
      "fuzzy.features")
    val filtered = c
      .join(t, col("ida") === col("__vid"))
      .select(col("ida"), col("idb"),
        col("__vl").as("la"), col("__vh").as("ha"))
      .join(t, col("idb") === col("__vid"))
      .filter(abs(col("la") - col("__vl")) <= maxDist)
      .filter(l1Dist(col("ha"), col("__vh")) <= lit(2 * maxDist))
      .select("ida", "idb")
    // docs are already pruned to candidate MEMBERS above — the verify
    // tail must not re-derive pair ids and semi-join a second time
    // (filtered's members are a subset of c's, so `pruned` is a valid
    // superset text source).
    verifyWithTexts(filtered, pruned, textCol, idCol, maxDist,
      docsPrePruned = true)
  }

  /** Shared fuzzy-dedup verify tail: fetch texts by id for the (already
    * length- and count-filtered) candidate pairs, then the banded
    * threshold Levenshtein. This is the ONLY place text pairs up, and by
    * now candidates are survivor-sparse — the pair frame is pinned
    * (two text-join consumers share one filter-chain run) and the doc
    * side semi-joined down to pair members before texts are read, so
    * neither text join scans the full corpus; AQE broadcasts the pair
    * side, so the (pruned) corpus text never shuffles at all.
    * `docsPrePruned = true` skips the semi-join when the CALLER already
    * pruned docs to candidate members (editDistanceVerify does) — the
    * filtered pairs' members are a subset of the caller's candidate
    * members, so the caller's pruned frame is a valid text source and
    * a second explode/distinct/semi-join per call is pure waste.
    */
  private def verifyWithTexts(cands: DataFrame, docs: DataFrame,
                              textCol: String, idCol: String,
                              maxDist: Int,
                              docsPrePruned: Boolean = false): DataFrame = {
    val c = graft.operators.Artifacts.pinEager(cands, "fuzzy.verify_pairs")
    val pruned =
      if (docsPrePruned) docs
      else docs.join(
        c.select(explode(array(col("ida"), col("idb"))).as(idCol)).distinct(),
        Seq(idCol), "left_semi")
    // pinned for the same reason as fuzzy.features: two text joins (ida,
    // idb) otherwise each re-run the pruned-corpus subtree per call
    val t = graft.operators.Artifacts.pinEager(
      pruned.select(col(idCol).as("__tid"), col(textCol).as("__tt")),
      "fuzzy.verify_texts")
    c
      .join(t, col("ida") === col("__tid"))
      .select(col("ida"), col("idb"), col("__tt").as("ta"))
      .join(t, col("idb") === col("__tid"))
      .withColumn("dist", levenshtein(col("ta"), col("__tt"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("ida", "idb", "dist")
  }
}
