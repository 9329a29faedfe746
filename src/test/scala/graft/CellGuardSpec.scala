package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The link has one cell layout and one link body: only `Cells` packs doc
  * and idf blobs, and only `Cells.link` takes queries into cells, scores
  * them (`Cells.score`, the one cogroup) and merges partial lists, so the
  * shuffled cells (`Linker.linkPlanned`) and the persisted cells
  * (`LinkIndex`) cannot drift apart on which cell a blob or query goes to,
  * how a cell is scored or how lists merge. And no link route collects its
  * inputs to the driver. */
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

  /** The def enclosing line `n` (1-based) of `raw`. */
  private def owner(raw: Seq[String], n: Int): String = {
    val at = raw.take(n).lastIndexWhere(_.matches("""\s*(private\S*\s+)?def\s.*"""))
    """def\s+(\w+)""".r.findFirstMatchIn(raw(at)).get.group(1)
  }

  test("cells are scored and partial lists merged only by the one link body") {
    // `Linker.linkPlanned` and `LinkIndex.link` both call `Cells.link`;
    // neither runs the cell cogroup or the top-k merge itself.
    val cells = link.resolve("Cells.scala")
    val call = """(\bCells\s*\.\s*|\bdef\s+)?\b(score|mergeHits)\s*\(""".r
    val calls = sources(root).flatMap { p =>
      val raw = Files.readAllLines(p).asScala.toSeq
      lines(p).flatMap { l =>
        call.findAllMatchIn(l._3).collect {
          case m if Option(m.group(1)).fold(p == cells)(_.startsWith("Cells")) =>
            (p.getFileName.toString, owner(raw, l._2), m.group(2))
        }
      }
    }
    assert(calls.sorted == Seq(("Cells.scala", "link", "mergeHits"),
      ("Cells.scala", "link", "score")),
      "Cells.score and Cells.mergeHits must be called only from Cells.link:\n" +
        calls.mkString("\n"))
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
      val raw = Files.readAllLines(p).asScala.toSeq
      lines(p).filter(l => call.findFirstIn(l._3).isDefined)
        .map(l => (p.getFileName.toString, owner(raw, l._2)))
    }
    assert(calls.sorted == Seq(("Cells.scala", "countByPk"), ("Linker.scala", "discoverTowns")),
      "driver collects under graft/link:\n" + calls.mkString("\n"))
  }
}
