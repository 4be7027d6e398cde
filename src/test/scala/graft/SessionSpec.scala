package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The mains build their Spark session through [[graft.core.Session]];
  * only the frozen Bench and Verify mains keep inline copies. Engine code
  * reads no environment variables: only the session factory and the
  * mains do.
  */
class SessionSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Paths under src/main/scala (relative) whose text contains `needle`. */
  private def mainFilesContaining(needle: String): List[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val files = Files.walk(root)
    try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(p => root.relativize(p).toString)
      .toList.sorted
    finally files.close()
  }

  /** Every allowed path must exist, so a deleted file leaves no stale exemption. */
  private def assertAllExist(allowed: Set[String]): Unit = {
    val missing = allowed.filterNot(p => Files.isRegularFile(root.resolve(p)))
    assert(missing.isEmpty, s"allow-list names files that do not exist: $missing")
  }

  test("SparkSession.builder appears only in core/Session, Bench and Verify") {
    val allowed = Set("graft/core/Session.scala", "graft/Bench.scala", "graft/Verify.scala")
    assertAllExist(allowed)
    val offenders = mainFilesContaining("SparkSession.builder").filterNot(allowed)
    assert(offenders.isEmpty, s"build the session with graft.core.Session: $offenders")
  }

  test("sys.env is read only by core/Session and the mains") {
    val allowed = Set("graft/core/Session.scala", "graft/Bench.scala", "graft/Verify.scala",
      "graft/PlanDump.scala")
    assertAllExist(allowed)
    val offenders = mainFilesContaining("sys.env").filterNot(allowed)
    assert(offenders.isEmpty,
      s"engine code takes its settings as arguments or constants, not env vars: $offenders")
  }
}
