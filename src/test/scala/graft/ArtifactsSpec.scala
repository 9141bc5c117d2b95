package graft

import graft.operators.Artifacts
import org.apache.spark.storage.StorageLevel

/** The pinned-artifact registry: explicit lifetime for the session-lived
  * trained artifacts (LM model, LSH candidates, simhash sketch, tfidf tf)
  * that round 13 introduced as bare persists with no release handle.
  */
class ArtifactsSpec extends SparkSpecBase {
  import spark.implicits._

  test("pin persists at MEMORY_AND_DISK and registers the label") {
    val df = Artifacts.pin(Seq((1, "a"), (2, "b")).toDF("k", "v"),
      "spec.pin")
    try {
      assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(Artifacts.registered(spark).contains("spec.pin"))
    } finally { Artifacts.releaseAll(spark); () }
  }

  test("pinEager fills the cache (first action reads it back)") {
    val df = Artifacts.pinEager(Seq(1, 2, 3).toDF("x"), "spec.eager")
    try {
      // cache is materialized: the executed plan resolves to an
      // InMemoryTableScan (the cache manager swapped the scan in)
      assert(df.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"),
        "pinEager must leave the plan served from the cache")
      assert(df.count() == 3)
    } finally { Artifacts.releaseAll(spark); () }
  }

  test("releaseAll unpersists everything, empties the registry, and is " +
    "idempotent") {
    val a = Artifacts.pin(Seq(1).toDF("x"), "spec.a")
    val b = Artifacts.pinEager(Seq(2).toDF("x"), "spec.b")
    assert(Artifacts.registered(spark).toSet == Set("spec.a", "spec.b"))
    assert(Artifacts.releaseAll(spark) == 2)
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
    assert(Artifacts.registered(spark).isEmpty)
    assert(Artifacts.releaseAll(spark) == 0, "second sweep must be a no-op")
  }

  test("registries are per-session: releasing one session leaves the " +
    "other's artifacts pinned") {
    val other = spark.newSession()
    val mine = Artifacts.pin(Seq(1).toDF("x"), "spec.mine")
    val theirs = Artifacts.pin(
      other.range(3).toDF(), "spec.theirs")
    try {
      assert(Artifacts.releaseAll(spark) == 1)
      assert(mine.storageLevel == StorageLevel.NONE)
      assert(theirs.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "the other session's artifact must survive this session's sweep")
      assert(Artifacts.registered(other) == Seq("spec.theirs"))
    } finally { Artifacts.releaseAll(other); () }
  }

  test("an artifact whose Dataset handle was GC'd still releases through " +
    "its plan handle (round 15: uncacheQuery fallback)") {
    // Most operators pin frames as locals that are unreachable by sweep
    // time — the sweep must free the CACHE ENTRY anyway, not fall back
    // to LRU. storageLevel on a freshly-built identical frame consults
    // the cache manager by canonical plan, so it observes the entry
    // without holding the original Dataset.
    def make() = Seq((41, "gcd"), (42, "gcd")).toDF("gk", "gv")
    var df: org.apache.spark.sql.DataFrame =
      Artifacts.pinEager(make(), "spec.gcd")
    assert(make().storageLevel == StorageLevel.MEMORY_AND_DISK,
      "fresh identical frame must see the cache entry by canonical plan")
    val probe = new java.lang.ref.WeakReference(df)
    df = null
    var i = 0
    while (probe.get != null && i < 50) { System.gc(); Thread.sleep(20); i += 1 }
    assume(probe.get == null, "GC did not collect the handle; inconclusive")
    assert(Artifacts.releaseAll(spark) == 1)
    assert(make().storageLevel == StorageLevel.NONE,
      "cache entry must be gone even though the Dataset handle was collected")
  }

  test("memo entries are capped in total, oldest evicted first, and an " +
    "evicted key recomputes (ADVICE r17: plan keys hold driver rows)") {
    Artifacts.releaseAll(spark)
    val df = Seq(1, 2, 3).toDF("x")
    var computes = 0
    // distinct keys on ONE plan: fill to the cap, then one more
    (0 to Artifacts.MemoCap).foreach { i =>
      Artifacts.memo(df, s"spec.cap.$i") { computes += 1; i }
    }
    assert(computes == Artifacts.MemoCap + 1)
    assert(Artifacts.memoized(spark) == Artifacts.MemoCap,
      "cap not enforced")
    // the OLDEST key (0) was evicted — recomputes; a young key does not
    Artifacts.memo(df, "spec.cap.0") { computes += 1; 0 }
    assert(computes == Artifacts.MemoCap + 2, "evicted key did not recompute")
    val before = computes
    Artifacts.memo(df, s"spec.cap.${Artifacts.MemoCap}") { computes += 1; 0 }
    assert(computes == before, "young key lost to eviction")
    Artifacts.releaseAll(spark)
    assert(Artifacts.memoized(spark) == 0, "release must clear memos")
  }

  test("operators register their artifacts through the registry " +
    "(lm model + lsh candidates appear, sweep releases them)") {
    Artifacts.releaseAll(spark)
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat sat"),
      (2L, "the cat sat on the mat and the cat sat"),
      (3L, "a completely different document about spark plans"))
      .toDF("doc_id", "text")
    graft.text.LmScore.scoreDocs(docs).count()
    graft.dedup.Dedup.minhashLshPairs(docs, "text", "doc_id", 0.7).count()
    val labels = Artifacts.registered(spark).toSet
    assert(labels.contains("lm.bigram_model"), s"got $labels")
    assert(labels.contains("lsh.candidates"), s"got $labels")
    // every entry releases (live handle or plan fallback — round 15);
    // other artifacts pinned by these operators may ride along, so ≥
    assert(Artifacts.releaseAll(spark) >= 2)
    assert(Artifacts.registered(spark).isEmpty)
  }

  test("leakageSafeSplit memoizes its component labels and reuses them on " +
    "repeat; q_dedup_clusters_star adds no memo entry") {
    Artifacts.releaseAll(spark)
    val docs = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def split() = graft.sampling.Sampling.leakageSafeSplit(docs, "doc_id",
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("ida", "idb"), 0.2)._1.count()
    def labelPins() = Artifacts.registered(spark).count(_ == "components.labels")
    split()
    assert(Artifacts.memoized(spark) == 1, "the split did not memoize")
    assert(labelPins() == 1)
    split()
    assert(Artifacts.memoized(spark) == 1, "the repeat added a memo entry")
    assert(labelPins() == 1, "the repeat recomputed the labels")
    Artifacts.releaseAll(spark)
    SparkEntry.queries("q_dedup_clusters_star")(spark, sfDir).collect()
    assert(Artifacts.memoized(spark) == 0,
      "the distributed-path witness must time the star loop, not a memo")
    Artifacts.releaseAll(spark)
  }
}
