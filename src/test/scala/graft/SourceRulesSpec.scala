package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Rules the main sources keep, checked on the text of `src/main/scala`
  * (the suite runs from the project root). */
class SourceRulesSpec extends AnyFunSuite {

  private val root: Path = Paths.get("src/main/scala")

  /** (path relative to `root`, line) for every line of every source. */
  private def sourceLines(): Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val rel = root.relativize(f).toString
        Files.readAllLines(f).asScala.map(rel -> _)
      }
    finally walk.close()
  }

  test("directory renames live only in core/Dirs.scala; the session conf " +
    "is set only in core/Session.scala, apart from the NANOS branch of " +
    "Tables.eventsTsIsNanos") {
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val lines = sourceLines()
    val renames = lines.collect { case (f, l) if l.contains(".rename(") => f }
    assert(renames.nonEmpty && renames.toSet === Set("graft/core/Dirs.scala"))
    val confSets = lines.collect {
      case (f, l) if l.contains("conf.set(") && f != "graft/core/Session.scala" =>
        f -> l.trim
    }
    assert(confSets === Seq(
      "graft/core/Tables.scala" -> """if (nanos) spark.conf.set(key, "true")"""))
  }
}
