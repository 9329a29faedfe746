package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The link has one scoring kernel: `LinkKernel.feed` is the only loop that
  * calls `Scoring.score`, and the one link body (`Cells.link`, for the
  * batch cells and `LinkIndex`) feeds it. Pruning is always on: nothing reads a WAND
  * switch from the environment. */
class KernelGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")

  private def lines(p: Path): Seq[(Path, Int, String)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
      case (line, i)
          if !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
        (p, i + 1, line.trim)
    }

  private def sources: Seq[(Path, Int, String)] = {
    assert(Files.isDirectory(root), s"sources not found under ${root.toAbsolutePath}")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).flatMap(lines).toSeq
  }

  test("Scoring.score is called at exactly one kernel site") {
    val scoring = root.resolve("graft/link/Scoring.scala")
    val kernel = root.resolve("graft/link/LinkKernel.scala")
    val call = """\bScoring\s*\.\s*score\s*\(""".r
    // An import of `score` itself would hide a call from the pattern above.
    val importScore = """import\s+.*Scoring\s*\.\s*(score\b|_|\*|\{[^}]*\bscore\b)""".r
    val src = sources.filter(_._1 != scoring)
    val calls = src.filter(l => call.findFirstIn(l._3).isDefined)
    val imports = src.filter(l => importScore.findFirstIn(l._3).isDefined)
    assert(imports.isEmpty, "Scoring.score imported:\n" + imports.mkString("\n"))
    assert(calls.size == 1 && calls.head._1 == kernel,
      "Scoring.score must be called once, in LinkKernel:\n" + calls.mkString("\n"))
  }

  test("no WAND kill switch is read") {
    val reads = sources.filter(_._3.contains("\"GRAFT_WAND\""))
    assert(reads.isEmpty, "GRAFT_WAND read:\n" + reads.mkString("\n"))
  }
}
