package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard: every session in `src/main` goes through
  * [[GraftSession]], so a main cannot drift from the documented
  * configuration (extensions, UTC, partition sizing, codegen cache)
  * by assembling its own builder.
  */
class SessionGuardSpec extends AnyFunSuite {

  private val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r

  // the file's code with whole comment lines dropped (line comments,
  // block-comment openers and scaladoc continuation lines), joined so
  // a builder call split across lines still matches
  private def code(p: Path): String =
    Files.readAllLines(p).asScala.map(_.trim).filterNot(l =>
      l.startsWith("//") || l.startsWith("/*") || l.startsWith("*")).mkString("\n")

  test("only GraftSession calls SparkSession.builder() in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root; no $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = sources
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => builderCall.findFirstIn(code(p)).isDefined)
      .map(root.relativize(_).toString).sorted
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.local/builder, not SparkSession.builder(): " +
        offenders.mkString(", "))
  }
}
