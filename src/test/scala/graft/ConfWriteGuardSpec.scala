package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library never writes a caller's session conf: sized plans run in the
  * private clone `SizedSession` creates, the only place a `.conf.set(` may
  * appear (session builders use `.config(`). */
class ConfWriteGuardSpec extends AnyFunSuite {

  test("only SizedSession writes a session conf, and only on its own clone") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"sources not found under ${root.toAbsolutePath}")
    val helper = root.resolve("org/apache/spark/sql/graft/SizedSession.scala")
    def writes(p: Path): Seq[(Path, Int, String)] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if line.contains(".conf.set(") => (p, i + 1, line.trim)
      }
    val all = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).flatMap(writes).toSeq
    val (inHelper, outside) = all.partition(_._1 == helper)
    assert(outside.isEmpty,
      "session conf written outside SizedSession:\n" + outside.mkString("\n"))
    assert(inHelper.nonEmpty && inHelper.forall(_._3.startsWith("session.conf.set(")),
      inHelper.mkString("\n"))
  }
}
