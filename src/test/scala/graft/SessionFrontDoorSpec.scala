package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** GraftSession is the one place a SparkSession gets built: every main and
  * the shared test session go through it, so the posture (UTC, nanos-as-long
  * parquet, graft extensions) cannot drift between them.
  */
class SessionFrontDoorSpec extends AnyFunSuite {

  // assembled so this file does not match its own scan
  private val direct = ("SparkSession" + """\s*\.\s*builder\b""").r

  test("only GraftSession.scala builds a SparkSession") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"missing source root $r"))
    val offenders = roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala")
        .filter(p => direct.findFirstIn(Files.readString(p)).isDefined)
        .map(_.toString).toList
      finally walk.close()
    }
    assert(offenders.isEmpty,
      s"build sessions through GraftSession instead: ${offenders.mkString(", ")}")
  }

  test("the scan sees a direct builder call") {
    assert(direct.findFirstIn("val s = SparkSession" + ".builder()").isDefined)
    assert(direct.findFirstIn("SparkSession" + "\n  .builder()").isDefined)
    assert(direct.findFirstIn("GraftSession.builder(\"local[2]\", 2)").isEmpty)
  }
}
