package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The mains build their Spark session through [[graft.core.Session]];
  * only the frozen Bench and Verify mains keep inline copies.
  */
class SessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears only in core/Session, Bench and Verify") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val allowed = Set("graft/core/Session.scala", "graft/Bench.scala", "graft/Verify.scala")
    val files = Files.walk(root)
    val offenders =
      try files.iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString)
        .filterNot(allowed)
        .toList.sorted
      finally files.close()
    assert(offenders.isEmpty, s"build the session with graft.core.Session: $offenders")
  }
}
