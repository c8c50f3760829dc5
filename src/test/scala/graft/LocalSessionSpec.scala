package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every session in the repo comes from [[LocalSession]]: a second
  * builder site is how drifting confs (core counts, extensions, time
  * zone) crept in before, one probe at a time. */
class LocalSessionSpec extends AnyFunSuite {

  test("src/ builds sessions only in LocalSession.scala") {
    val builder = """SparkSession\s*\.\s*[bB]uilder""".r
    val walk = Files.walk(Paths.get("src"))
    val sources = try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toList finally walk.close()
    assert(sources.exists(_.getFileName.toString == "LocalSession.scala"))
    val offenders = sources
      .filterNot(_.getFileName.toString == "LocalSession.scala")
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      "build the session with graft.LocalSession instead: " +
        offenders.map(_.toString).sorted.mkString(", "))
  }
}
