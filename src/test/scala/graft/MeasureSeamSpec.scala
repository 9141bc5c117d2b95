package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** graft.Trace is the one place the program listens to Spark: every main
  * and spec measures through `Trace.measure`, so no second listener keeps
  * its own counters, drains the bus on its own or outlives a throwing body.
  */
class MeasureSeamSpec extends AnyFunSuite {

  private val seam = Paths.get("src/main/scala/graft/Trace.scala")

  // assembled so this file does not match its own scan
  private val patterns = Seq(
    ("add" + "SparkListener" + """|listenerManager\s*\.\s*register\b""").r,
    ("""\b(extends|with|new)\s+[\w.]*(Spark""" + "Listener|QueryExecution" +
      """Listener)\b""").r,
    // a call; the bridge's own definition is exempt
    ("""(?<!def )\bdrain""" + "ListenerBus\\b").r)

  private def offends(text: String): Boolean =
    patterns.exists(_.findFirstIn(text).isDefined)

  test("only Trace.scala registers a Spark listener or drains the bus") {
    assert(Files.isRegularFile(seam), s"missing $seam")
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"missing source root $r"))
    val offenders = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != seam)
        .filter(p => offends(Files.readString(p)))
        .map(_.toString).toList
      finally walk.close()
    }
    assert(offenders.isEmpty,
      s"measure through graft.Trace.measure instead: ${offenders.mkString(", ")}")
  }

  test("the scan sees a registration, a listener subclass and a drain call") {
    assert(offends("sc.add" + "SparkListener(l)"))
    assert(offends("spark.listenerManager" + " .register(l)"))
    assert(offends("new org.apache.spark.scheduler.Spark" + "Listener {"))
    assert(offends("final class L extends QueryExecution" + "Listener"))
    assert(offends("class L extends Base\n  with Spark" + "Listener"))
    assert(offends("GraftSqlBridge.drain" + "ListenerBus(sc)"))
    assert(!offends("def drain" + "ListenerBus(sc: SparkContext): Unit ="))
    assert(!offends("val (n, c) = Trace.measure(spark)(df.count())"))
    assert(!offends("val l: Spark" + "ListenerInterface = bus.head"))
  }
}
