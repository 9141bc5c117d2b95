package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one way the mains and the specs measure what Spark did: one
  * listener that is both a SparkListener (jobs, task metrics) and a
  * QueryExecutionListener (Dataset actions), registered for the length of
  * one [[Trace.measure]] call. The library's operators never use it.
  */
final class Trace private () extends SparkListener with QueryExecutionListener {
  private val jobs, actions, shuffleWrite, spill, taskGc = new AtomicLong
  private val lastAction = new AtomicReference[QueryExecution]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      taskGc.addAndGet(m.jvmGCTime)
    }
    ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    actions.incrementAndGet()
    lastAction.set(qe)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
    actions.incrementAndGet(); ()
  }
}

object Trace {

  /** What Spark did inside one [[measure]] window.
    *
    * @param jobs              Spark jobs started
    * @param actions           Dataset actions (count, collect, save, checkpoint…)
    *                          on the measured session's own listener manager;
    *                          the narrow child sessions have their own, so
    *                          their actions are not seen
    * @param shuffleWriteBytes task shuffle-write bytes
    * @param spillBytes        task memory plus disk spill bytes
    * @param taskGcMs          task JVM GC milliseconds
    * @param compiles          Janino compilations (spark-core's JVM-wide
    *                          CodegenMetrics counter; driver and local-mode
    *                          executors share it)
    * @param gcMs              the JVM's own GC milliseconds, all collectors
    */
  final class Counts private[Trace] (
      val jobs: Int,
      val actions: Int,
      val shuffleWriteBytes: Long,
      val spillBytes: Long,
      val taskGcMs: Long,
      val compiles: Long,
      val gcMs: Long,
      last: Option[QueryExecution]) {

    /** The executed plan of the window's last successful Dataset action.
      * The string is built on read, so a caller that never reads it pays
      * nothing; until then the Counts holds that action's QueryExecution.
      */
    def lastPlan: Option[String] = last.map(_.executedPlan.toString)
  }

  /** Runs `body` with a fresh Trace registered on `spark` and returns its
    * value with the window's [[Counts]].
    *
    * Listener events reach the listener asynchronously, on the bus's
    * dispatch thread, so the bus is drained before the listener is
    * registered (an earlier job's queued events stay out of the window)
    * and again after `body` (its own events are all counted). Both drains
    * fall outside `body`: a caller that times code inside `body` does not
    * time them. The listener is removed in a `finally`, so a body that
    * throws leaves none behind, and nested calls each count their own
    * window.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    GraftSqlBridge.drainListenerBus(sc)
    val t = new Trace
    sc.addSparkListener(t)
    spark.listenerManager.register(t)
    try {
      val (gc0, compiles0) = (gcMs, compileCount)
      val out = body
      val (gc1, compiles1) = (gcMs, compileCount)
      GraftSqlBridge.drainListenerBus(sc)
      (out, new Counts(t.jobs.get.toInt, t.actions.get.toInt,
        t.shuffleWrite.get, t.spill.get, t.taskGc.get,
        compiles1 - compiles0, gc1 - gc0, Option(t.lastAction.get)))
    } finally {
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
    }
  }

  /** Cumulative JVM GC milliseconds across all collectors. */
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
