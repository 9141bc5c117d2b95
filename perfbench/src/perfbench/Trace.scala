package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters, read from outside the program: one SparkListener
  * for jobs, stages, tasks and task metrics, one QueryExecutionListener
  * for Catalyst phase times. Registered only in traced runs.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, shuffleWrite, shuffleRead, spill, input, output = new AtomicLong
  val executions, analysisMs, optimizationMs, planningMs = new AtomicLong
  /** (submitted, completed) epoch-ms of every finished stage. */
  val stageIntervals = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageIntervals.add((s, c))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      output.addAndGet(m.outputMetrics.bytesWritten)
    }
    ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    executions.incrementAndGet()
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
    ()
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Counter values now, in report units (s, MB, count). */
  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_run_s" -> runMs.get / 1e3,
    "spark.task_cpu_s" -> cpuNs.get / 1e9,
    "spark.shuffle_write_mb" -> shuffleWrite.get / 1e6,
    "spark.shuffle_read_mb" -> shuffleRead.get / 1e6,
    "spark.spill_mb" -> spill.get / 1e6,
    "spark.input_mb" -> input.get / 1e6,
    "spark.output_mb" -> output.get / 1e6,
    "jvm.gc_s" -> gcMs / 1e3,
    "catalyst.executions" -> executions.get.toDouble,
    "catalyst.analysis_s" -> analysisMs.get / 1e3,
    "catalyst.optimization_s" -> optimizationMs.get / 1e3,
    "catalyst.planning_s" -> planningMs.get / 1e3)
}

object SparkCounters {
  def register(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  /** Wall time inside `windows` that no finished stage covered, in s. */
  def outsideStages(windows: Seq[(Long, Long)], stages: Seq[(Long, Long)]): Double = {
    val merged = mutable.ArrayBuffer.empty[(Long, Long)]
    stages.sortBy(_._1).foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((s, e))
    }
    windows.map { case (ws, we) =>
      val covered = merged.map { case (s, e) => math.max(0L, math.min(e, we) - math.max(s, ws)) }.sum
      (we - ws - covered).toDouble
    }.sum / 1e3
  }
}

/** In-memory spans, written out once when the run ends. A span records its
  * name, start, end, parent span and repetition; self time is its duration
  * minus its children's (one client thread, so children nest).
  */
final class Spans {
  private final case class Span(id: Int, parent: Int, name: String, rep: Int,
                                start: Long, var end: Long = 0L, var child: Long = 0L)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val origin = System.nanoTime()

  def begin(name: String, rep: Int): Unit = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    stack.push(Span(done.size + stack.size, parent, name, rep, System.nanoTime()))
  }

  def end(): Unit = {
    val s = stack.pop()
    s.end = System.nanoTime()
    stack.headOption.foreach(p => p.child += s.end - s.start)
    done += s
  }

  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try done.sortBy(_.start).foreach { s =>
      w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "rep" -> s.rep, "start_s" -> (s.start - origin) / 1e9,
        "end_s" -> (s.end - origin) / 1e9,
        "self_s" -> (s.end - s.start - s.child) / 1e9)))
      w.newLine()
    } finally w.close()
  }
}

/** Minimal JSON encoder for the harness's own records. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
