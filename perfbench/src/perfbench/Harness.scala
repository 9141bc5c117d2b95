package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** An operation failed; the rest of its repetition is not attempted. */
final class OpFailed(val op: String, cause: Throwable)
  extends RuntimeException(s"operation $op failed: $cause", cause)

/** One benchmark workload: a fixed list of operations run in sequence by
  * one client thread, repeated on fresh output directories.
  */
trait Workload {
  /** Every operation one repetition attempts, in order. */
  def ops: Seq[String]
  /** Untimed: register inputs, load append batches. Part of set-up, except
    * for the seconds it returns: time spent deriving inputs, which set-up
    * leaves out like the rest of input generation.
    */
  def prepare(ctx: Ctx): Double
  /** One repetition; every timed call goes through `ctx.op`. */
  def rep(ctx: Ctx, dir: File): Unit
  /** Untimed, after each repetition: write the correctness-check inputs
    * when `last` (the harness then releases every pinned artifact).
    */
  def afterRep(ctx: Ctx, dir: File, last: Boolean): Unit
}

/** The measuring context a workload's repetition runs in. */
final class Ctx(val spark: SparkSession, val counters: Option[SparkCounters],
                val spans: Option[Spans], val checkDir: File) {
  var rep: Int = -1
  /** True in the first warm-up repetition, which a workload may use as its
    * checked execution (writing results for the correctness checks).
    */
  var checking: Boolean = false
  /** Per-repetition results: op → wall seconds (succeeded ops only), layer extras. */
  val walls = mutable.LinkedHashMap.empty[String, Double]
  val extras = mutable.LinkedHashMap.empty[String, Double]
  /** Epoch-ms windows of this repetition's operations (outside-stage time). */
  val windows = mutable.ArrayBuffer.empty[(Long, Long)]

  def reset(r: Int): Unit = {
    rep = r; walls.clear(); extras.clear(); windows.clear()
  }

  /** Time one operation. Its wall time is the sample; a throw marks it failed. */
  def op[T](name: String)(body: => T): T = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    spans.foreach(_.begin(name, rep))
    try {
      val v = body
      walls(name) = (System.nanoTime() - t0) / 1e9
      v
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed in rep $rep: $e")
        throw new OpFailed(name, e)
    } finally {
      spans.foreach(_.end())
      windows += ((w0, System.currentTimeMillis()))
    }
  }

  /** A span inside an operation (traced runs only); its time stays in the op's. */
  def span[T](name: String)(body: => T): T = {
    spans.foreach(_.begin(name, rep))
    try body finally spans.foreach(_.end())
  }

  def extra(name: String, v: Double): Unit = extras(name) = extras.getOrElse(name, 0.0) + v
}

object Harness {
  private def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time the JIT compilers have spent compiling since the JVM started, in s. */
  private def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** CPU time the host took from this machine's CPUs (steal), in s. */
  private def stealSeconds: Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0
    finally src.close()
  }

  /** Heap in use after a full collection plus non-heap in use, in MB: the
    * memory the program still holds, whatever the collector's heap sizing.
    */
  def liveHeapMb: Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  def session(cores: Int, work: File): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "stream-ckpt").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wait (bounded) until no cached RDD block remains, nudging the cleaner. */
  def awaitNoCachedBlocks(spark: SparkSession, timeoutMs: Long = 10000L): Int = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def cached = spark.sparkContext.getRDDStorageInfo.count(_.numCachedPartitions > 0)
    var n = cached
    while (n > 0 && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(50)
      n = cached
    }
    n
  }

  /** Warm up, then repeat whole repetitions for `seconds` (at least
    * `minReps`); returns the raw record the Python side turns into metrics.
    */
  def run(wl: Workload, ctx: Ctx, work: File, warmups: Int, seconds: Double,
          minReps: Int): Map[String, Any] = {
    val spark = ctx.spark
    val deriveS = wl.prepare(ctx)
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val timed = mutable.ArrayBuffer.empty[Map[String, Any]]
    var r = 0
    var dirPrev: Option[File] = None

    def oneRep(isWarm: Boolean, lastIfDone: () => Boolean): Boolean = {
      ctx.reset(r)
      ctx.checking = isWarm && r == 0
      require(graft.operators.Artifacts.registered(spark).isEmpty &&
        graft.operators.Artifacts.memoized(spark) == 0,
        s"rep $r starts with artifacts from an earlier repetition")
      val dir = new File(work, s"rep_$r")
      dir.mkdirs()
      ctx.counters.foreach(_ => org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark.sparkContext))
      val before = ctx.counters.map(_.snapshot())
      ctx.counters.foreach(_.stageIntervals.clear())
      val w0 = System.nanoTime()
      val c0 = cpuSeconds
      val s0 = stealSeconds
      val j0 = jitSeconds
      ctx.spans.foreach(_.begin(if (isWarm) "warmup" else "repetition", r))
      try wl.rep(ctx, dir) catch { case _: OpFailed => () }
      finally ctx.spans.foreach(_.end())
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = cpuSeconds - c0
      val jit = jitSeconds - j0
      val steal = (stealSeconds - s0) / (wall * Runtime.getRuntime.availableProcessors)
      val layers = ctx.counters.map { c =>
        org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark.sparkContext)
        val after = c.snapshot()
        val outside = SparkCounters.outsideStages(ctx.windows.toSeq,
          c.stageIntervals.toArray(Array.empty[(Long, Long)]).toSeq)
        after.map { case (k, v) => k -> (v - before.get(k)) } +
          ("spark.outside_stage_s" -> outside)
      }.getOrElse(Map.empty[String, Double])
      val missing = wl.ops.filterNot(ctx.walls.contains)
      // before the repetition's artifacts are released: what one pass holds
      // (timed repetitions only; the full collection takes a while)
      val rec = Map[String, Any]("rep" -> r, "wall_s" -> wall, "cpu_s" -> cpu,
        "steal_share" -> steal, "peak_rss_mb" -> peakRssMb,
        "live_heap_mb" -> (if (isWarm) Double.NaN else liveHeapMb),
        "ops" -> ctx.walls.toMap, "failed" -> missing,
        "layers" -> (layers ++ ctx.extras + ("jvm.jit_s" -> jit)))
      val last = lastIfDone()
      wl.afterRep(ctx, dir, last && !isWarm)
      graft.operators.Artifacts.releaseAll(spark)
      val left = awaitNoCachedBlocks(spark)
      if (left > 0) System.err.println(s"[perfbench] $left cached RDDs still hold blocks")
      dirPrev.foreach(deleteTree)
      dirPrev = Some(dir)
      (if (isWarm) warm else timed) += rec
      System.err.println(f"[perfbench] ${if (isWarm) "warm" else "rep"} $r%d wall=$wall%.3f s cpu=$cpu%.3f s jit=$jit%.3f s steal=$steal%.3f failed=${missing.size}")
      r += 1
      last
    }

    (0 until warmups).foreach(_ => oneRep(isWarm = true, () => false))
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - deriveS
    val t0 = System.nanoTime()
    var done = false
    while (!done)
      done = oneRep(isWarm = false, () =>
        timed.size + 1 >= minReps && (System.nanoTime() - t0) / 1e9 >= seconds)
    Map("setup_s" -> setupS, "derive_s" -> deriveS, "ops" -> wl.ops,
      "warmup" -> warm.toSeq, "reps" -> timed.toSeq)
  }
}

/** Entry points, one per mode:
  *   run <workload> <inputDir> <workDir> <seconds> <trace 0|1> <cores> <warmups> <minReps>
  *   probe <seconds>   (harness self-test: CPU, RSS and live heap of this process)
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => runMode(args.tail)
    case Some("probe") => probe(args(1).toDouble)
    case _ =>
      System.err.println("usage: perfbench.Main run|probe ...")
      sys.exit(2)
  }

  private def runMode(a: Array[String]): Unit = {
    val Array(name, input, workPath, seconds, trace, cores, warmups, minReps) = a
    val work = new File(workPath)
    work.mkdirs()
    val spark = Harness.session(cores.toInt, work)
    val traced = trace == "1"
    val checkDir = new File(work, "check")
    checkDir.mkdirs()
    val ctx = new Ctx(spark,
      if (traced) Some(SparkCounters.register(spark)) else None,
      if (traced) Some(new Spans) else None, checkDir)
    val wl: Workload = name match {
      case "lakehouse_refresh" => new LakehouseRefresh(input)
      case "curation_analyst" =>
        new InSequence(new CurationPipeline(input, work), new AnalystQueries(input))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val raw = try Harness.run(wl, ctx, work, warmups.toInt, seconds.toDouble, minReps.toInt)
    finally spark.stop()
    ctx.spans.foreach(_.write(new File(work, "spans.jsonl").getPath))
    java.nio.file.Files.writeString(new File(work, "raw.json").toPath,
      Json(raw + ("workload" -> name) + ("cores" -> cores.toInt)))
  }

  /** Burn CPU on this thread for `seconds` and touch and hold 256 MB; report
    * what the harness's own readers saw, so the self-test can check they read
    * this process and not another, and that the live heap follows what the
    * program holds.
    */
  private def probe(seconds: Double): Unit = {
    val bean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val rss0 = Harness.peakRssMb
    val live0 = Harness.liveHeapMb
    val c0 = bean.getProcessCpuTime
    val t0 = System.nanoTime()
    var x = 0L
    while (System.nanoTime() - t0 < (seconds * 1e9).toLong) x += x * 31 + 7
    val cpu = (bean.getProcessCpuTime - c0) / 1e9
    // 64 KB arrays: small enough that the collector stores them compactly
    val block = Array.fill(4096)(new Array[Byte](1 << 16))
    block.foreach(b => java.util.Arrays.fill(b, 1.toByte))
    val rss1 = Harness.peakRssMb
    val live1 = Harness.liveHeapMb    // the block is still reachable here
    println(Json(Map("pid" -> ProcessHandle.current().pid(), "cpu_s" -> cpu,
      "rss_before_mb" -> rss0, "rss_after_mb" -> rss1, "live_before_mb" -> live0,
      "live_after_mb" -> live1, "sink" -> (x + block.map(_(0).toLong).sum))))
  }
}
