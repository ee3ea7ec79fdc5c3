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

  /** (path, trimmed line) of every source line matching `pattern`. */
  private def sites(pattern: String): Seq[(String, String)] = {
    val re = pattern.r
    sourceLines().collect {
      case (f, l) if re.findFirstIn(l).isDefined => f -> l.trim
    }
  }

  test("one IVF probe path: no plan-literal centroid vector, the cell " +
    "probe and the neighbour ranking window are each written once") {
    // a vector literal scored by dot: k·dim plan literals per projection
    assert(sites("""dot\(.*\.map\(lit\)""").isEmpty)
    // the probe shapes (argmax and sorted top-n over the centroid
    // array) live in Similarity.probeCells only
    val probes = sites("""bestCell\(col|array_max\(transform\(col\("cc"|""" +
      """slice\((reverse\()?(array_sort|sort_array)\(""")
    assert(probes.map(_._1) === Seq.fill(2)("graft/ops/Similarity.scala"),
      probes.mkString("\n"))
    // one neighbour ranking window: Similarity.rankNeighbors
    val ranks = sites(
      """orderBy\(col\("sim"\)\.desc,\s*col\("neighbor_id"\)\)""")
    assert(ranks.map(_._1) === Seq("graft/ops/Similarity.scala"),
      ranks.mkString("\n"))
  }

  test("one history-dedup path: no plan-literal Bloom probe; the " +
    "survivor collapse, the cogroup screen with its one verdict row and " +
    "the bloom store's shard-count check are each written once, in " +
    "ops/Dedup.scala") {
    assert(sites("BloomFilterMightContain").isEmpty)
    val once = Seq(
      // min doc_id per fp: Dedup.firstArrivals
      """groupBy\("fp"\)\.agg\(min\(col\("doc_id"\)\)""",
      // the screen and the one row shape it returns: Dedup.cogroupScreen
      """\.cogroup\(""", """\bmaybe: Boolean\)""",
      // the caller's count against the sidecar: Dedup.bloomStoreLayout
      """require\(.*==\s*shards\b""")
    for (p <- once) {
      val found = sites(p)
      assert(found.map(_._1) === Seq("graft/ops/Dedup.scala"),
        s"$p:\n${found.mkString("\n")}")
    }
  }

  /** The body of `def name` in `file`: the lines after the def line up
    * to the next member at the def's indent. Empty if no such def. */
  private def body(file: String, name: String): Seq[String] = {
    val ls = Files.readAllLines(root.resolve(file)).asScala.toSeq
    val start = ls.indexWhere(l => s"""\\bdef $name\\b""".r.findFirstIn(l).isDefined)
    if (start < 0) Seq.empty
    else {
      def indent(l: String) = l.takeWhile(_ == ' ').length
      val at = indent(ls(start))
      ls.drop(start + 1).takeWhile(l =>
        l.trim.isEmpty || indent(l) > at || l.trim.startsWith("}"))
    }
  }

  test("one k-means trainer: no Lloyd refine written as a Spark " +
    "aggregate (avg over a posexplode of a vector) in ops") {
    val refines = sourceLines().filter(_._1.startsWith("graft/ops/"))
      .groupBy(_._1).toSeq.flatMap { case (f, ls) =>
        val text = ls.map(_._2)
        text.indices.collect {
          case i if text(i).contains("posexplode(col(") &&
            text.slice(i, i + 4).exists(_.contains("avg(")) =>
            f -> text(i).trim
        }
      }
    assert(refines.isEmpty, refines.mkString("\n"))
  }

  test("one k-means trainer: training assigns exactly, never through " +
    "the two-level probe") {
    val trainer = Seq("ivfCentroidsDf", "trainCentroids", "lloyd")
      .flatMap(body("graft/ops/Similarity.scala", _)) ++
      body("graft/ops/Quantize.scala", "pqCodebooks")
    assert(!trainer.exists(_.contains("assignCellsTwoLevel(")),
      trainer.filter(_.contains("assignCellsTwoLevel(")).mkString("\n"))
  }

  test("one k-means trainer: one Lloyd loop, called only by " +
    "Similarity.trainCentroids") {
    val defs = sites("""\bdef lloyd\b""")
    assert(defs.map(_._1) === Seq("graft/ops/Similarity.scala"),
      defs.mkString("\n"))
    val calls = sites("""\blloyd\(""").filterNot(_._2.contains("def lloyd"))
    assert(calls.length === 1 &&
      body("graft/ops/Similarity.scala", "trainCentroids")
        .exists(_.contains("lloyd(")), calls.mkString("\n"))
  }
}
