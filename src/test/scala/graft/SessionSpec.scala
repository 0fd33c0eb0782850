package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One session factory: every main configures Spark through GraftSession,
  * and no code path exists that only a bench-configured session takes.
  */
class SessionSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${sys.props("user.dir")}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def containing(root: String, needle: String): Seq[String] =
    sources(root).filter(p => Files.readString(p).contains(needle)).map(_.toString)

  test("SparkSession.builder is called only by GraftSession in main code") {
    val files = sources("src/main/scala")
    assert(files.exists(_.endsWith("graft/GraftSession.scala")))
    assert(containing("src/main/scala", "SparkSession.builder")
      .filterNot(_.endsWith("graft/GraftSession.scala")) === Nil)
  }

  test("no source consults the retired fixture-cache conf key") {
    // split so this file does not match itself
    assert(containing("src", "spark.graft." + "fixtureCache") === Nil)
  }
}
