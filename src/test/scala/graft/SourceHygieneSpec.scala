package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Checks on the program's source text that the compiler does not
  * make (unused imports are compile errors, see `build.sbt`).
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def filesUnder(dir: String): Seq[Path] = {
    val files = Files.walk(Paths.get(dir))
    try files.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally files.close()
  }

  private def mainSources: Seq[Path] =
    filesUnder("src/main/scala").filter(_.toString.endsWith(".scala"))

  /** `src/main` members that no entry point reaches on purpose: the
    * mains run from the command line, the reference-pipeline stages
    * and their members, and the copurchase pair kept for ids past
    * 2^32.
    */
  private val UnreachedByDesign = Set(
    "Explain", "Verify",
    "JdbcUpsert", "ansiMergeSql", "postgresUpsertSql", "writeGeneric",
    "Metrics", "record", "history",
    "Report", "recordSchema", "schemaDrift", "fromEnv",
    "copurchasePairsJoined", "copurchasePairsStruct")

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

  test("every src/main member is named by non-test code, or allow-listed") {
    // name-based, like the recipe in the verify skill: a member counts
    // as reached when a non-comment line of src/main or perfbench/src
    // that does not define it names it as a whole word
    val Member = """^\s*(?:private\[graft\] |protected )?(?:def|val|var|lazy val|object|class|case class|trait) ([A-Za-z0-9_]+)""".r
    val Definer = """(?:def|val|var|object|class|trait) ([A-Za-z0-9_]+)""".r
    val Comment = """^\s*(?:\*|/\*\*|//).*""".r
    val members = mainSources.flatMap(p =>
      Files.readAllLines(p).asScala.flatMap(Member.findPrefixMatchOf(_))
        .map(_.group(1))).toSet
    val named = (filesUnder("src/main/scala") ++ filesUnder("perfbench/src"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .filterNot(Comment.matches)
      .flatMap { line =>
        val defined = Definer.findAllMatchIn(line).map(_.group(1)).toSet
        line.split("[^A-Za-z0-9_]+").filterNot(defined)
      }.toSet
    val unreached = members -- named
    assert(unreached === UnreachedByDesign,
      s"unreached members ${(unreached -- UnreachedByDesign).mkString(", ")}: " +
        "move a spec-only member to src/test/scala/graft/ref or delete it; " +
        s"allow-listed but now reached: ${(UnreachedByDesign -- unreached).mkString(", ")}")
  }

  /** Each `src/main` line that `hit` matches: its (file name, name of
    * the last `def` above it) and its `path:line`.
    */
  private def sites(hit: String => Boolean): Seq[((String, String), String)] = {
    val Def = """\bdef ([A-Za-z0-9_]+)""".r
    mainSources.flatMap { p =>
      var enclosing = ""
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.flatMap { case (line, i) =>
        Def.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
        if (hit(line)) Some((p.getFileName.toString -> enclosing, s"$p:${i + 1}"))
        else None
      }
    }
  }

  test("session confs are set only where a plan takes its settings") {
    // a plan that needs its own settings runs on a clone
    // (PlanDsl.withConf) or, for a stream, gets them around start()
    // (Streams.runDrained); only session preparation and the events
    // loader set the caller's session for good
    val Allowed = Set("GraftSession.scala" -> "prepare", "Tables.scala" -> "events",
      "PlanDsl.scala" -> "withConf", "Streams.scala" -> "runDrained")
    val setters = sites(line => line.contains("conf.set(") || line.contains("conf.unset("))
    assert(setters.nonEmpty, "no conf setter found: the scan is broken")
    val stray = setters.filterNot { case (site, _) => Allowed(site) }.map(_._2)
    assert(stray.isEmpty,
      s"session conf set outside ${Allowed.mkString(", ")}: ${stray.mkString(", ")} " +
        "(run the plan on PlanDsl.withConf's clone instead)")
  }

  test("planner strategies are added only by session preparation and the medallion's clone") {
    // the engine's node strategies go on every prepared session; the
    // medallion adds its watermark scan to its own per-run clone only
    val Allowed = Set("GraftSession.scala" -> "installStrategies", "Medallion.scala" -> "run")
    val Assign = """extraStrategies(?:_=|\s*(?:\+\+|:\+)?=(?!=))""".r
    val assigned = sites(line => Assign.findFirstIn(line).isDefined)
    assert(assigned.nonEmpty, "no strategy assignment found: the scan is broken")
    val stray = assigned.filterNot { case (site, _) => Allowed(site) }.map(_._2)
    assert(stray.isEmpty,
      s"experimental.extraStrategies assigned outside ${Allowed.mkString(", ")}: " +
        s"${stray.mkString(", ")} (a strategy every query needs belongs in " +
        "GraftSession.installStrategies; one plan's, on that plan's PlanDsl.withConf clone)")
  }

  test("specs make scratch dirs only through PlanDsl.tempDir, which deletes them at exit") {
    val self = "SourceHygieneSpec.scala"
    val direct = filesUnder("src/test/scala")
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != self)
      .flatMap { p =>
        Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
          case (line, i) if line.contains("createTempDirectory") => s"$p:${i + 1}"
        }
      }
    assert(direct.isEmpty,
      s"scratch dirs nothing deletes (use PlanDsl.tempDir): ${direct.mkString(", ")}")
  }
}
