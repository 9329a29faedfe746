package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library never writes a session conf: sized operators give their
  * shuffles an explicit width in the caller's session, and session builders
  * use `.config(`. */
class ConfWriteGuardSpec extends AnyFunSuite {

  test("nothing under src/main writes a session conf") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"sources not found under ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    val writes = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains(".conf.set(")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(writes.isEmpty, "session conf written:\n" + writes.mkString("\n"))
    assert(sources.length > 40, s"scanned only ${sources.length} sources")
  }
}
