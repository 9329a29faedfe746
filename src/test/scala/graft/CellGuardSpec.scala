package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The link has one cell layout: only `Cells` packs doc and idf blobs, so
  * the shuffled cells (`Linker.linkTopK`) and the persisted cells
  * (`LinkIndex`) cannot drift apart on which cell a blob goes to. */
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
}
