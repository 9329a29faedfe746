package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._
import graft.queries.QuerySupport.scoped

/** Verify/Bench contract: one `QuerySpec` per query in the `graft.queries`
  * family files. Every map below derives from that one list, so a query's
  * body, its check (DuckDB oracle SQL or a rows-only justification) and its
  * drift pin are declared in one place. KG queries run on the deterministic
  * synthetic transcript corpus; their oracles read `materializeStage`'s
  * tables. */
object SparkEntry {

  /** Flagship query on sf=0.001: the full transcript→KG pipeline; returns the
    * emitted triples. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    scoped(spark, "/root/testdata/sf0.001", 5, "entry")(r =>
      r.triples.toDF().orderBy("subj", "pred", "obj"))

  /** Every query, one spec each. */
  val specs: Seq[QuerySpec] =
    KgQueries.specs ++ KgFacetQueries.specs ++ GraphQueries.specs ++
      DedupQueries.specs ++ TextQueries.specs ++ AnnQueries.specs ++
      RelationalQueries.specs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  /** Oracle SQL per oracled query, built at call time: it embeds
    * `stageDir` and the `.vt` dump dir. */
  def oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(n, _, o: Oracle, _) => n -> o.sql }.toMap

  /** Why each query WITHOUT an oracle is rows-only, the gates that pin it
    * instead, and its sf0.001 drift pin if any. Verify writes each entry as
    * the query's `_verification.json` (parquet readers skip the underscore
    * file), so "justified rows-only" stays distinguishable from
    * "unverified". */
  def rowsOnlyJustification: Map[String, Map[String, String]] =
    specs.collect { case QuerySpec(n, _, RowsOnly(reason, gates), pin) =>
      n -> (Map("reason" -> reason, "gates" -> gates) ++
        pin.map("pinned_hash_sf0001" -> _))
    }.toMap

  /** The sf0.001 content-hash drift pins DriftPinSpec asserts; a rows-only
    * `_verification.json` quotes the same value from the same spec. */
  def driftPins: Map[String, String] =
    specs.flatMap(q => q.driftPin.map(q.name -> _)).toMap

  /** Stage-table directory used inside the oracle SQL; Verify points it at
    * <outDir>/stage before materializing and dumping oracle_sql.json. */
  def stageDir: String =
    sys.props.getOrElse("graft.stage.dir", "/root/repo/target/kgstage")

  /** Write every stage table the kg oracles reference. One pipeline pass. */
  def materializeStage(s: SparkSession, dir: String): Unit =
    QuerySupport.materializeStage(s, dir)
}
