package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The sized operators hold no cache of their own: every frame and RDD they
  * persist or checkpoint goes through their `CacheScope` (`w.persist`,
  * `w.localCheckpoint`), which frees it, so no operator keeps a nullable
  * holder, a hand-written `finally`, an `unpersist` or a
  * `CheckpointBlocks.release`. And the rest of the library caches only
  * through a `CacheScope` (`cache.persist`, or a `hold` whose free the scope
  * calls), so `src/main` has one cache registry. */
class ScopeGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala", "graft")

  private def lines(rel: String): Seq[String] = {
    val p = root.resolve(rel)
    assert(Files.isRegularFile(p), s"source not found: ${p.toAbsolutePath}")
    Files.readAllLines(p).asScala.toSeq
  }

  /** `DedupOps.connectedComponents`, from its `def` to the next member,
    * with the file line it starts on. */
  private def connectedComponents: (Int, Seq[String]) = {
    val all = lines("ops/DedupOps.scala")
    val from = all.indexWhere(_.startsWith("  def connectedComponents("))
    assert(from >= 0, "DedupOps.connectedComponents not found")
    val to = all.indexWhere(l => l.startsWith("  def ") || l.startsWith("  /**"),
      from + 1)
    (from, all.slice(from, if (to < 0) all.length else to))
  }

  /** (file, first line offset, lines) of every scanned source. */
  private lazy val sources: Seq[(String, Int, Seq[String])] = {
    val (ccFrom, cc) = connectedComponents
    Seq(("kg/GraphOps.scala", 0, lines("kg/GraphOps.scala")),
      ("kg/KgPipeline.scala", 0, lines("kg/KgPipeline.scala")),
      ("ops/DedupOps.scala", ccFrom, cc))
  }

  private def offending(bad: String => Boolean): Seq[String] =
    for {
      (name, from, ls) <- sources
      (l, i) <- ls.zipWithIndex
      code = l.trim
      if !code.startsWith("*") && !code.startsWith("/**") &&
        !code.startsWith("//") && bad(code)
    } yield s"$name:${from + i + 1}: $code"

  test("sized operators hold no DataFrame = null resource holders") {
    // kCore's loop state `lastDeg` is the one nullable frame, and it holds
    // nothing: each round's table is registered with the scope.
    val found = offending(l => l.contains("DataFrame = null") &&
      !l.startsWith("var lastDeg: DataFrame = null"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("sized operators persist and checkpoint only through their scope") {
    val call = """(\w*)\.(persist|localCheckpoint)\(""".r
    val found = offending(l => call.findAllMatchIn(l).exists(_.group(1) != "w"))
    assert(found.isEmpty, found.mkString("\n"))
    val frees = offending(l => l.contains(".unpersist(") ||
      l.contains("CheckpointBlocks") || l.startsWith("} finally") ||
      l.startsWith("finally"))
    assert(frees.isEmpty, frees.mkString("\n"))
    // The scope calls do exist (the scan is not vacuous).
    assert(sources.forall { case (_, _, ls) =>
      ls.exists(l => l.contains("w.persist(") || l.contains("w.localCheckpoint("))
    })
  }

  test("the library persists, checkpoints and unpersists only through a scope") {
    // Bench.scala is frozen; a LinkIndex's cells live as long as the index,
    // which frees them itself.
    val exempt = Set("Bench.scala", "link/LinkIndex.scala")
    val scopes = Set("w", "cache")
    val call = """(\w*)\.(persist|localCheckpoint|unpersist)\(""".r
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.map(p => root.relativize(p).toString)
      .filter(_.endsWith(".scala")).filterNot(exempt).toList.sorted
    finally walk.close()
    val found = for {
      rel <- files
      (l, i) <- lines(rel).zipWithIndex
      code = l.trim
      if !code.startsWith("*") && !code.startsWith("/**") &&
        !code.startsWith("//")
      // `hold(x)(_.unpersist())` hands the free to the scope.
      if call.findAllMatchIn(code.replace("(_.unpersist())", ""))
        .exists(m => !scopes(m.group(1)))
    } yield s"$rel:${i + 1}: $code"
    assert(found.isEmpty, found.mkString("\n"))
    assert(files.length > 40, s"scanned only ${files.length} sources")
  }
}
