package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Checks on the program's source text that the compiler does not
  * make (unused imports are compile errors, see `build.sbt`).
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }

  test("no stacked scaladoc: a /** block never follows a closing */ line") {
    val sources = mainSources
    assert(sources.nonEmpty, "no sources under src/main/scala")
    // only the last of two adjacent doc blocks attaches to the
    // definition below them; the first one documents nothing
    val stacked = sources.flatMap { p =>
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.sliding(2).collect {
        case Seq((prev, _), (line, i))
            if prev.trim.endsWith("*/") && line.trim.startsWith("/**") =>
          s"$p:${i + 1}"
      }
    }
    assert(stacked.isEmpty,
      s"stacked doc blocks (merge each into the one below it, or move " +
        s"it onto the definition it describes): ${stacked.mkString(", ")}")
  }
}
