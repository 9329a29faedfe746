package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QuerySpec, RowsOnly}

/** The query registry: `SparkEntry.queries`, `oracleSql`,
  * `rowsOnlyJustification` and `driftPins` all derive from the one spec
  * list, so these checks need no Spark session. */
class QuerySpecSpec extends AnyFunSuite {
  private val specs = SparkEntry.specs

  test("the 72 query names are unique") {
    val names = specs.map(_.name)
    assert(names.size == 72)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
  }

  test("every query has exactly one of oracle SQL or a rows-only justification") {
    val oracled = SparkEntry.oracleSql.keySet
    val rowsOnly = SparkEntry.rowsOnlyJustification.keySet
    assert(SparkEntry.queries.keySet == oracled ++ rowsOnly)
    assert(oracled.intersect(rowsOnly).isEmpty)
    assert(oracled.size == 70 && rowsOnly.size == 2)
  }

  test("drift pins name existing queries") {
    assert(SparkEntry.driftPins.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("a pinned rows-only justification quotes its spec's pin, keys in order") {
    val pinned = for (QuerySpec(name, _, RowsOnly(_, _), Some(pin)) <- specs)
      yield name -> pin
    assert(pinned.nonEmpty)
    for ((name, pin) <- pinned) {
      val j = SparkEntry.rowsOnlyJustification(name)
      assert(j.get("pinned_hash_sf0001").contains(pin), name)
      // Verify writes the map in iteration order: `_verification.json`
      // stays byte-stable only while this order does.
      assert(j.keys.toSeq == Seq("reason", "gates", "pinned_hash_sf0001"), name)
    }
  }

  test("queries declared as equivalent share one oracle SQL") {
    val sql = SparkEntry.oracleSql
    assert(sql("kg_links_indexed") == sql("kg_links"))
    assert(sql("q27_stream_link") == sql("kg_triples"))
    assert(sql("q46_decontaminate_bloom") == sql("q30_decontaminate"))
  }

  test("oracle SQL reads graft.stage.dir when oracleSql is called") {
    val key = "graft.stage.dir"
    val prev = sys.props.get(key)
    val dir = java.nio.file.Files.createTempDirectory("graft-stage-probe")
    try {
      sys.props(key) = dir.toString
      assert(SparkEntry.oracleSql("kg_idf").contains(s"$dir/termrows/"))
    } finally {
      prev match {
        case Some(p) => sys.props(key) = p
        case None => sys.props.remove(key)
      }
      java.nio.file.Files.delete(dir)
    }
  }
}
