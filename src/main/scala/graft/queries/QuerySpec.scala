package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How Verify's DuckDB compare checks one query: by an oracle recompute, or
  * rows-only with a stated reason. A query has exactly one of the two. */
sealed trait Check

/** DuckDB SQL that recomputes the query's output. Held unevaluated: the SQL
  * interpolates `SparkEntry.stageDir` and the `.vt` dump dir, which must be
  * read when `SparkEntry.oracleSql` is called (after Verify has set
  * `graft.stage.dir`), not when the spec list is built. */
final class Oracle(sql0: => String) extends Check { def sql: String = sql0 }

object Oracle { def apply(sql: => String): Oracle = new Oracle(sql) }

/** No oracle: why the semantics are not SQL-expressible, and the gates that
  * pin them instead. Verify writes it as the query's `_verification.json`. */
final case class RowsOnly(reason: String, gates: String) extends Check

/** One Verify/Bench query: its name, its body `(session, sfDir) => output`,
  * how its output is checked, and its optional sf0.001 content-hash pin
  * (asserted by DriftPinSpec, quoted by a rows-only `_verification.json`). */
final case class QuerySpec(name: String,
    run: (SparkSession, String) => DataFrame, check: Check,
    driftPin: Option[String] = None)

object QuerySpec {
  /** Contract first, body last. The body also gets the spec's name, which
    * names its stash directory. */
  def of(name: String, check: Check, driftPin: Option[String] = None)(
      body: (SparkSession, String, String) => DataFrame): QuerySpec =
    QuerySpec(name, (s, dir) => body(s, dir, name), check, driftPin)
}
