package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The link has one cell layout and one cell engine: only `Cells` packs doc
  * and idf blobs, and only `Cells.score` cogroups and scores cells, so the
  * shuffled cells (`Linker.linkPlanned`) and the persisted cells (`LinkIndex`)
  * cannot drift apart on which cell a blob goes to or how a cell is
  * scored. And no link route collects its inputs to the driver. */
class CellGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")

  private def lines(p: Path): Seq[(Path, Int, String)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
      case (line, i)
          if !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
        (p, i + 1, line.trim)
    }

  test("blobs are packed only by the cell module") {
    assert(Files.isDirectory(root), s"sources not found under ${root.toAbsolutePath}")
    val cells = root.resolve("graft/link/Cells.scala")
    val call = """\b(DocBlob|IdfBlob)\s*\.\s*packGroups\s*\(""".r
    val calls = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != cells)
      .flatMap(lines).filter(l => call.findFirstIn(l._3).isDefined).toSeq
    assert(calls.isEmpty,
      "blob packing outside link/Cells.scala:\n" + calls.mkString("\n"))
  }

  private val link = root.resolve("graft/link")

  private def sources(dir: Path): Seq[Path] =
    Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq

  test("cells are scored only by the one cell engine") {
    val call = """\bscoreCell\s*\(""".r
    val calls = sources(root).flatMap(lines)
      .filter(l => call.findFirstIn(l._3).isDefined && !l._3.contains("def scoreCell"))
    assert(calls.map(_._1) == Seq(link.resolve("Cells.scala")),
      "scoreCell must be called once, from Cells.score:\n" + calls.mkString("\n"))
  }

  test("no Dataset cell grouping or Dataset top-k merge is left in the link") {
    // `Linker.attachIdf` is the cold-path idf view (explain, stage tables),
    // not a cell: its Dataset cogroup is the one allowed.
    val linker = link.resolve("Linker.scala")
    val raw = Files.readAllLines(linker).asScala
    val from = raw.indexWhere(_.contains("def attachIdf("))
    val to = raw.indexWhere(_ == "  }", from)
    assert(from >= 0 && to > from, "Linker.attachIdf not found")
    val grouping = """\.(groupByKey|cogroup)\s*[(\[]|\bmergeTopK\b""".r
    val hits = sources(link).flatMap(lines)
      .filter(l => grouping.findFirstIn(l._3).isDefined)
      .filterNot(l => l._1 == linker && l._2 > from && l._2 <= to + 1)
    assert(hits.map(l => (l._1, grouping.findFirstIn(l._3).get)) ==
      Seq((link.resolve("Cells.scala"), ".cogroup(")),
      "the one cell cogroup must be Cells.score's:\n" + hits.mkString("\n"))
  }

  test("the link collects to the driver only district counts and discovered towns") {
    // A driver collect of link inputs is fixed serial cost and unbounded
    // driver memory: the two allowed are `Cells.countByPk`'s per-district
    // counts and `Linker.discoverTowns`' town vocabulary.
    val call = """\.collect\s*\(\s*\)""".r
    val calls = sources(link).flatMap { p =>
      val raw = Files.readAllLines(p).asScala
      lines(p).filter(l => call.findFirstIn(l._3).isDefined).map { l =>
        val owner = raw.take(l._2).lastIndexWhere(_.matches("""\s*(private\S*\s+)?def\s.*"""))
        (p.getFileName.toString, """def\s+(\w+)""".r.findFirstMatchIn(raw(owner)).get.group(1))
      }
    }
    assert(calls.sorted == Seq(("Cells.scala", "countByPk"), ("Linker.scala", "discoverTowns")),
      "driver collects under graft/link:\n" + calls.mkString("\n"))
  }
}
