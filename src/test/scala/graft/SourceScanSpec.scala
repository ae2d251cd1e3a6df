package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps two protocols in one place each, by scanning the main sources:
  * table-exists handling lives in [[graft.sinks.JdbcSink]]
  * (`createTableIfAbsent` swallows every engine's already-exists state,
  * not just Derby's), and the once-per-store drive protocol lives in
  * [[graft.cdc.DeltaLog.buildOnce]] — no query hand-rolls a done marker
  * or an in-JVM memo set.
  */
class SourceScanSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  private def hits(files: Seq[Path], pattern: String): Seq[String] = {
    val re = pattern.r
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$f:${i + 1}"
      }
    }
  }

  test("no hand-rolled Derby X0Y32 catch outside JdbcSink") {
    val files = scalaFiles("src/main/scala")
      .filterNot(_.endsWith(Paths.get("sinks", "JdbcSink.scala")))
    assert(files.nonEmpty)
    val found = hits(files, """getSQLState\s*==\s*"X0Y32"""")
    assert(found.isEmpty,
      s"route CREATE TABLE through JdbcSink.createTableIfAbsent: $found")
  }

  test("queries create no drive done marker and declare no memo set") {
    val files = scalaFiles("src/main/scala/graft/queries")
    assert(files.nonEmpty)
    val found = hits(files, """Paths\.get\(.*_(DRIVE|LIFECYCLE)_DONE""") ++
      hits(files, """newKeySet""")
    assert(found.isEmpty,
      s"memoized drives go through DriveCost.once / DeltaLog.buildOnce: $found")
  }
}
