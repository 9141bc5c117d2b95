package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once co-order edge mart — the sketch-mart pattern (SURVEY §11:
  * persist once, answer forever) applied to the graph family.
  *
  * The graph-analytics queries all run over the same derived graph: parts
  * co-ordered together (edge src→dst, src < dst, weighted by the number
  * of DISTINCT shared orders). Deriving it is the expensive step — a
  * lineitem self-join plus a countDistinct shuffle — and rebuilding it
  * per query is exactly the rescan-raw pattern the sketch marts exist to
  * kill: at 100 TB the self-join reads the whole fact table, while the
  * edge list it produces is ~graph-sized (millions of rows, not
  * billions). So the mart is the persistence unit:
  *
  *  - [[coOrderCounts]] is the PERSISTED form — UNFILTERED pair counts,
  *    so the mart stays incrementally maintainable (a pair seen once
  *    today can be promoted past any minCo by tomorrow's orders; a
  *    pre-filtered mart would have forgotten it).
  *  - [[edges]] applies the minCo cut at READ time (the filter is a
  *    contract of the query, not of the storage).
  *  - [[mergeCounts]] is the merge-on-read maintenance step (the
  *    Kmv-sink pattern): new ORDER-COMPLETE batches fold in by pair-key
  *    sum, bit-equal to a from-scratch rebuild (spec-pinned).
  *  - [[write]]/[[read]] persist bucket-style: repartitioned by src and
  *    sorted within files, so every graph op's first src-keyed shuffle
  *    reads locality-friendly input; [[writeBucketed]] is the
  *    metastore-table variant whose bucketing survives into Catalyst
  *    (joins/aggs on src skip the exchange entirely).
  *  - [[diskCounts]] is the cross-session form: the unfiltered counts
  *    persisted once per FIXTURE DIR under a fingerprint manifest, so a
  *    fresh JVM (a new driver bench/verify run) reads a graph-sized
  *    parquet file instead of re-paying the fact-table self-join.
  *  - [[cachedEdges]] is the per-session memo over it the driver-facing
  *    queries share: disk mart → minCo cut → src repartition → eager
  *    localCheckpoint, once per (session, fixture dir) — 12 graph
  *    queries, one read. One query (q_graph_triangles) deliberately
  *    bypasses both layers as the build-cost witness, so the bench
  *    always shows what a cold build costs next to the mart-fed reads.
  *
  * Correctness posture: the mart changes WHERE the edge list comes from,
  * never what it is — every graph oracle recomputes the same co-order
  * CTE from raw lineitem in DuckDB, so the 13 graph-query hashes are the
  * proof the mart path is lossless.
  */
object GraphMart {

  /** Unfiltered co-order pair counts (src, dst, w) with src < dst and
    * w = count of DISTINCT orders containing both parts — DISTINCT so an
    * order listing a part on two lineitems doesn't double-count the
    * edge. One self-join reusing a single l_orderkey exchange for both
    * sides, then a map-side-combined countDistinct; linear shuffle in
    * co-occurrence volume (orders × parts-per-order²), never all-pairs
    * over the part dimension.
    */
  def coOrderCounts(lineitem: DataFrame): DataFrame = {
    // (orderkey, partkey) dedup BEFORE the self-join (round 18): the old
    // shape deduped AFTER, as countDistinct(l_orderkey) grouped by the
    // pair — which plans a (src, dst, ok) dedup exchange over the JOIN
    // OUTPUT (the co-occurrence volume, the largest intermediate of the
    // whole build) followed by the (src, dst) count exchange. Deduping
    // the 2-column input first makes every joined (ok, src, dst) row
    // unique by construction, so a plain count is the distinct count —
    // one pair-volume shuffle instead of two, for one (much smaller)
    // lineitem-sized exchange. Output counts are bit-identical, so the
    // mart fingerprint/version is untouched and persisted marts stay
    // valid (GraphMartSpec rebuild parity pins this).
    val li = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    li.join(li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("pb")),
        col("l_orderkey") === col("ok2") && col("l_partkey") < col("pb"))
      .groupBy(col("l_partkey").as("src"), col("pb").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** The query-facing edge list: the minCo strength cut applied at read
    * time (src, dst, w), w ≥ minCo.
    */
  def edges(counts: DataFrame, minCo: Long = 2L): DataFrame = {
    require(minCo >= 1L, s"GraphMart.edges: minCo $minCo must be >= 1")
    counts.filter(col("w") >= minCo)
  }

  /** Merge-on-read maintenance: fold a new ORDER-COMPLETE batch's counts
    * into the mart by pair-key sum. Contract: each l_orderkey's
    * lineitems must be entirely in one input — a straddling order would
    * count a shared pair in both halves (double) or split it across
    * them (missed). With order-complete batches the merge is bit-equal
    * to rebuilding from the concatenated raw data (GraphMartSpec).
    *
    * Pairs are re-canonicalized (least/greatest) before the sum: a delta
    * built outside [[coOrderCounts]] with reversed (dst, src) rows would
    * otherwise split one edge into two rows and silently diverge from a
    * rebuild. For already-canonical input (src < dst) the projection is
    * the identity, so the rebuild-equality contract is unchanged.
    */
  def mergeCounts(mart: DataFrame, delta: DataFrame): DataFrame =
    mart.select("src", "dst", "w")
      .unionAll(delta.select("src", "dst", "w"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("w"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))

  /** Persist the mart as src-clustered parquet: repartitioned by src
    * (each part's edges land in one file) and sorted (src, dst) within
    * files — min/max row-group stats make src-range reads prunable, and
    * the graph ops' first src-keyed exchange reads pre-clustered input.
    */
  def write(counts: DataFrame, path: String, numFiles: Int = 8): Unit =
    counts.repartition(numFiles, col("src"))
      .sortWithinPartitions("src", "dst")
      .write.mode("overwrite").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Merge-on-read over an epoch-partitioned STREAMED mart dir (the
    * StreamingTelemetry.streamEdgeMart sink): pair counts add across
    * epochs, so one keyed sum reconstitutes the exact batch-built mart
    * (mergeCounts generalized to n inputs — same order-complete
    * contract).
    */
  def readMerged(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))

  /** Metastore-table variant: bucketBy(src) registers the clustering in
    * the catalog, so Catalyst elides the exchange for src-keyed joins
    * and aggregations over the mart (the bucketed-layout posture
    * Layouts/SkewAndLayoutSpec establish for the fact tables).
    */
  def writeBucketed(counts: DataFrame, table: String, buckets: Int = 8): Unit =
    counts.write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src", "dst")
      .format("parquet").saveAsTable(table)

  // ---------------------------------------------------------------------
  // On-disk mart: one build per FIXTURE DIR, shared across sessions/JVMs.

  /** Base directory holding persisted co-order marts (one subdir per
    * fixture, named by a hash of the fixture's canonical path). Override
    * with SPARK_GRAFT_MART_DIR; defaults under java.io.tmpdir so a
    * rebuilt machine starts clean and nothing lands inside a fixture dir
    * (fixtures are read-only by contract).
    */
  private def martBase: java.io.File =
    new java.io.File(sys.env.getOrElse("SPARK_GRAFT_MART_DIR",
      new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft-marts").getPath))

  /** Mart format/code version, embedded in the freshness fingerprint so
    * a change to [[coOrderCounts]] or the persisted layout invalidates
    * every on-disk mart built by prior code (a source-only fingerprint
    * would keep serving them forever). Bump on any semantic or layout
    * change to the persisted counts. v3: fingerprint-versioned data
    * dirs (counts_<digest>) retired lazily instead of one shared
    * `counts` dir deleted in place on rebuild.
    */
  private val MartFormatVersion = 3

  /** How long a superseded versioned counts dir survives after its
    * SUPERSESSION (not its build — a dir built long ago would otherwise
    * be reclaimed the instant a rebuild supersedes it, which is exactly
    * the common steady state) before [[retireStale]] reclaims it. The
    * grace window is what makes rebuilds safe for concurrent READERS:
    * `read` returns a lazy DataFrame, so a reader that resolved the
    * then-current dir may still be scanning it when another process
    * detects a newer fingerprint and rebuilds — deleting the old dir
    * immediately (the pre-v3 behavior) would fail that in-flight scan.
    * Any reader's resolution-to-scan gap is bounded by job runtime, far
    * under an hour; dirs superseded longer ago than that are garbage.
    * Supersession time is recorded by a [[SupersededMarker]] tombstone
    * dropped inside the dir on the first retire pass that sees it
    * superseded.
    */
  private[graft] val RetireGraceMs: Long = 60L * 60 * 1000

  /** Tombstone file dropped inside a superseded counts dir; its mtime IS
    * the supersession time the grace window counts from. The leading
    * underscore keeps it invisible to Spark's file index (like
    * `_SUCCESS`), so a reader scanning the still-live dir never trips
    * on a non-parquet file.
    */
  private[graft] val SupersededMarker = "_SUPERSEDED"

  /** The on-disk home for one fixture's persisted mart (exposed for the
    * spec's cleanup — tests build marts for throwaway fixture copies and
    * must delete them, or every run leaks a parquet copy into tmpdir).
    */
  private[graft] def martHome(dir: String): java.io.File = {
    val canonical = new java.io.File(dir).getCanonicalFile
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getPath.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    new java.io.File(martBase, s"coorder_$digest")
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Source fingerprint: total bytes + max mtime over the lineitem
    * parquet (file or part-file dir). A listing-only stat — cheap enough
    * to run per read — that catches both ways a fixture changes under a
    * persisted mart: in-place rewrite (mtime) and regeneration (length).
    */
  private def sourceFingerprint(f: java.io.File): String = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .map(walk).foldLeft((0L, f.lastModified))((a, b) =>
            (a._1 + b._1, math.max(a._2, b._2)))
      else (f.length, f.lastModified)
    val (len, mtime) = walk(f)
    s"len=$len;mtime=$mtime"
  }

  /** The lake-persisted UNFILTERED co-order counts for
    * `$dir/lineitem.parquet` — the cross-SESSION form of the mart (the
    * r10 mart was session-memoized, so every fresh JVM re-paid the
    * lineitem self-join; this makes the build once-per-FIXTURE).
    *
    * Freshness is STRUCTURAL: the data dir's name embeds a digest of
    * the versioned source fingerprint (format version + path + bytes +
    * mtime), so `counts_<digest>` existing IS fingerprint-match — read
    * it (a graph-sized scan, not a fact-table self-join); missing →
    * rebuild under that name. The MANIFEST records the current
    * fingerprint in the clear (inspection + the spec's rebuild pin),
    * but is never the freshness authority. The rebuild is crash- and
    * CONCURRENCY-safe: builders serialize on an OS-level file lock
    * (plus a JVM monitor — FileLock is per-process), re-resolve the
    * fingerprint under the lock, write to a UNIQUE temp dir and
    * atomically rename it into place (a failed build's temp dir is
    * reclaimed in the same try). Two processes racing the first build
    * can therefore never interleave part-files in one Spark overwrite
    * target; the loser of the race re-resolves, sees the dir, reads.
    *
    * Superseded dirs are retired LAZILY ([[retireStale]], grace
    * [[RetireGraceMs]]) rather than deleted at rebuild time: `read`
    * hands back a lazy DataFrame, so a concurrent reader that resolved
    * the previous fingerprint's dir may still have a scan in flight
    * when this builder swaps in the new one — versioned names mean the
    * rebuild never touches the directory that reader is using.
    */
  def diskCounts(spark: SparkSession, dir: String): DataFrame = {
    val canonical = new java.io.File(dir).getCanonicalFile
    val src = new java.io.File(canonical, "lineitem.parquet")
    val home = martHome(dir)
    val manifest = new java.io.File(home, "MANIFEST")
    def fp = s"v=$MartFormatVersion;src=${canonical.getPath};" +
      sourceFingerprint(src)
    def dataFor(fingerprint: String): java.io.File = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(fingerprint.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      new java.io.File(home, s"counts_$digest")
    }
    // Every mutation below runs under the SAME cross-process file lock
    // builders use (plus the JVM monitor — FileLock is per-process).
    def withBuildLock[A](body: => A): A = buildLock.synchronized {
      home.mkdirs()
      val ch = java.nio.channels.FileChannel.open(
        new java.io.File(home, "LOCK").toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until the other holder finishes
        try body finally lock.release()
      } finally ch.close()
    }
    var data = dataFor(fp)
    // A fingerprint can flip BACK to a dir that was tombstoned while
    // superseded (A → B → A): this read makes it current again, so the
    // stale tombstone goes now — left in place, the next supersession
    // would count grace from the OLD mtime and reclaim the dir with
    // zero grace under a concurrent reader. The delete runs UNDER the
    // build lock (round 15): done lock-free, a retireStale in another
    // process — which holds the lock and may have already stat'ed the
    // old tombstone as past grace — could deleteRecursively the dir
    // this reader just re-adopted; serializing on the same lock means
    // the delete lands either before that retireStale's stat (dir is
    // kept) or after its whole pass (re-created tombstone, full grace).
    if (data.isDirectory &&
        new java.io.File(data, SupersededMarker).exists())
      withBuildLock {
        val d = dataFor(fp) // re-resolve: may have flipped while waiting
        if (d.isDirectory) {
          val tomb = new java.io.File(d, SupersededMarker)
          if (tomb.exists()) { tomb.delete(); () }
        }
      }
    if (!data.isDirectory) withBuildLock {
      // Re-resolve under the lock: the lock holder may have built
      // it, or the fixture may have changed while we waited.
      val fpNow = fp
      data = dataFor(fpNow)
      if (!data.isDirectory) {
        val tmp = new java.io.File(home,
          s"counts_tmp_${java.util.UUID.randomUUID}")
        var renamed = false
        try {
          write(coOrderCounts(spark.read.parquet(src.getPath)),
            tmp.getPath)
          if (!tmp.renameTo(data))
            throw new java.io.IOException(
              s"GraphMart.diskCounts: rename $tmp -> $data failed")
          renamed = true
        } finally if (!renamed && tmp.exists()) deleteRecursively(tmp)
        java.nio.file.Files.write(manifest.toPath,
          fpNow.getBytes("UTF-8"))
        retireStale(home, keep = data.getName)
      }
    }
    read(spark, data.getPath)
  }

  /** Reclaim superseded build artifacts under a mart home, called only
    * with the build lock held (so no OTHER builder's temp dir can be
    * in flight). `counts_tmp_*` leftovers are crashed builds — swept
    * unconditionally. Versioned `counts_*` dirs other than `keep` (and
    * the pre-v3 un-versioned `counts`) follow a two-pass protocol so
    * grace is counted from SUPERSESSION, not build time: the first pass
    * that sees a dir superseded drops a [[SupersededMarker]] tombstone
    * inside it (and keeps the dir — a concurrent reader may have just
    * resolved it); a later pass deletes it only once the tombstone is
    * older than `graceMs`. Counting from the dir's own lastModified
    * (its BUILD time) would delete a long-lived mart the instant a
    * rebuild supersedes it — the exact race the grace window exists to
    * prevent.
    */
  private[graft] def retireStale(home: java.io.File, keep: String,
                                 graceMs: Long = RetireGraceMs): Unit = {
    val now = System.currentTimeMillis
    Option(home.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach { f =>
        val n = f.getName
        if (f.isDirectory && n == keep) {
          // A fixture can flip BACK to a fingerprint whose dir was
          // already tombstoned (A → B → A): the dir is current again,
          // so its stale tombstone must go — otherwise the NEXT
          // supersession would read the old mtime and delete it with
          // zero grace, reintroducing the in-flight-reader race.
          val tomb = new java.io.File(f, SupersededMarker)
          if (tomb.exists()) { tomb.delete(); () }
        } else if (f.isDirectory) {
          if (n.startsWith("counts_tmp_")) deleteRecursively(f)
          else if (n == "counts" || n.startsWith("counts_")) {
            val tomb = new java.io.File(f, SupersededMarker)
            if (!tomb.exists())
              try java.nio.file.Files.write(tomb.toPath, Array.empty[Byte])
              catch { case _: java.io.IOException => () } // retry next pass
            else if (now - tomb.lastModified > graceMs) deleteRecursively(f)
          }
        }
      }
  }

  // Serializes same-JVM builders (java.nio FileLock guards across
  // processes but throws OverlappingFileLockException within one).
  // Builds are rare (once per fixture per code version), so a single
  // global monitor is fine.
  private val buildLock = new Object

  // Per-session memo over the disk mart (skips even the parquet re-read
  // for the 12 mart-fed queries of a run), keyed by the canonical fixture
  // path; entries go when their context stops or beyond 64 (oldest
  // first). The value carries the frame AND its measured edge count (one
  // cheap scan of the checkpointed rows, paid at build), which
  // [[edgePartitions]] derives the per-round shuffle width from.
  private val cache = new SessionMemo[String, (DataFrame, Long)](64)

  /** Edge rows per per-round shuffle partition for the iterative graph
    * ops (round 18, guide §2.2 "fewer, larger partitions" / §2 scale-
    * adaptive partitioning): an (src, dst, w) long-triple row costs
    * ~50 B on the shuffle wire, so 2M rows ≈ 100 MB — the guide's
    * lower bound for a healthy partition. The old constant 8 was tuned
    * to neither end: at sf0.1 the minCo=2 edge list is 3,573 rows, so
    * every one of a loop's 3-per-round exchanges paid 8 tasks of
    * scheduling for ~450 rows each (measured: the graph family was the
    * bench's largest block at 37.3 s settled, overhead-dominated),
    * while a 100-TB co-order graph (billions of edges) would cram
    * ~10 GB into each of 8 partitions and OOM. Deriving width from the
    * measured edge count sizes the rounds to the GRAPH at every scale
    * — exactly the "size to the graph, not the cluster's core count"
    * contract the operators' scaladoc already states.
    */
  private[graft] val EdgeRowsPerPartition: Long = 2L * 1000 * 1000

  /** Scale-adaptive per-round shuffle width for the iterative graph
    * operators over this fixture's mart: ceil(edgeCount /
    * [[EdgeRowsPerPartition]]), minimum 1. Served from the same
    * per-session memo as [[cachedEdges]] (the count is measured once,
    * on the frame's first build).
    */
  def edgePartitions(spark: SparkSession, dir: String): Int = {
    val (_, n) = cachedEdgesWithCount(spark, dir)
    math.max(1L, (n + EdgeRowsPerPartition - 1) / EdgeRowsPerPartition)
      .min(Int.MaxValue).toInt
  }

  /** The minCo=2 co-order edge list for a fixture dir: served from the
    * per-session memo, else from the DISK mart ([[diskCounts]] — built
    * once per fixture, read by every later session), cut at minCo=2,
    * src-repartitioned (the layout every downstream op's first shuffle
    * wants) and eagerly localCheckpointed. All q_graph_* queries share
    * this; q_graph_triangles deliberately bypasses it as the
    * build-cost witness.
    *
    * The memo key is the fixture's CANONICAL path, so "/x/sf0.1",
    * "/x/sf0.1/" and a relative spelling share one entry (a raw-string
    * key built and checkpointed the same mart once per spelling).
    * Mid-session fixture rewrites are caught at the DISK layer (the
    * fingerprint manifest) only on the first per-session read — the
    * memoized frame itself is immutable while its memo entry lives.
    * The build runs outside the memo's lock; a racing loser's
    * checkpoint is GC-reclaimed.
    */
  def cachedEdges(spark: SparkSession, dir: String,
                  numPartitions: Int = 8): DataFrame =
    cachedEdgesWithCount(spark, dir, numPartitions)._1

  /** The memoized (edge frame, edge count) pair behind [[cachedEdges]]
    * and [[edgePartitions]]. The count is one narrow job over the just-
    * checkpointed partitions, paid once per (session, fixture) at build
    * — the price of sizing every downstream round's shuffles to the
    * data instead of a constant.
    */
  private def cachedEdgesWithCount(spark: SparkSession, dir: String,
                                   numPartitions: Int = 8)
      : (DataFrame, Long) = {
    val key = new java.io.File(dir).getCanonicalPath
    cache(spark, key) {
      val built = edges(diskCounts(spark, key))
        .repartition(numPartitions, col("src"))
        .localCheckpoint(true)
      (built, built.count())
    }
  }
}
