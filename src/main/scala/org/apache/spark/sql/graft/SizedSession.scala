package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedDeque

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** A private clone of a caller's session for plans sized to their data.
  *
  * The iterative graph loops and the derived KG analytics count their input,
  * then size every shuffle to that count (`Par.partitionsFor`) with AQE's
  * per-exchange re-planning off: corpus-width task launches and re-planning
  * latency dominate graph-sized exchanges. Both settings are written on a
  * clone (`cloneSession`), never on the caller's session, so queries sharing
  * one session cannot plan under each other's sizing. The clone shares the
  * SparkContext, the cache manager (persisted tables are read in place),
  * checkpoints and extensions, and copies the caller's conf. Partitioning
  * never reaches the semantics of hash aggregations, joins or keyed windows,
  * so the sizing changes plans, never results.
  *
  * The scope is a [[CacheScope]]: it owns what its operator persists and
  * checkpoints, and frees it when `SizedSession.apply` returns or throws
  * (the lifetime rule is [[CacheScope]]'s). A persisted frame keeps its
  * session, so a caller-bound table is still planned under the caller's
  * settings; `checkpoint` rebinds the result that leaves to the caller's.
  *
  * Each session gets its own executor class loader, which fetches classes
  * from the driver on first use: a fresh clone's first query measured
  * 0.1–1.3 s slower on a 4-core host. So idle clones are reused while their
  * caller's conf, planner rules and query listeners are unchanged; each call
  * holds its clone alone, so `size` may write its conf. The operators only
  * re-plan analyzed frames with built-in functions, so nothing else a clone
  * copied (temp views, functions) reaches their plans.
  *
  * Lives in this package because `cloneSession`, `withActive`,
  * `Dataset.ofRows` and `internalCreateDataFrame` are Spark-internal
  * surface.
  */
final class SizedSession private (parent: classic.SparkSession,
    session: classic.SparkSession) extends CacheScope {

  /** `df` rebound into the clone: every plan built on it runs under the
    * clone's settings. */
  def apply(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session, castToImpl(df).logicalPlan)

  /** Size the clone's shuffles to `rows` counted rows; returns the width.
    * Two-phase operators count under AQE off at the caller's width first. */
  def size(rows: Long): Int = {
    val n = _root_.graft.ops.Par.partitionsFor(session, rows)
    session.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, n.toString)
    n
  }

  /** `rows` as a clone-bound frame of `schema`. The rows are Catalyst's own,
    * so no serializer is generated for them. */
  def frame(rows: RDD[InternalRow], schema: StructType): DataFrame =
    session.internalCreateDataFrame(rows, schema)

  /** `df` materialized under the clone's settings (eager `localCheckpoint`)
    * and rebound to the caller's session, whose settings plan everything
    * built on it later. The plan stays the checkpoint's `LogicalRDD` leaf, so
    * [[CheckpointBlocks.release]] frees it. */
  override def checkpoint(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(parent, castToImpl(super.checkpoint(df)).logicalPlan)
}

object SizedSession {

  /** Idle clones, oldest first, each with the key of the caller state it
    * copied. Bounded, so the clones of callers that are gone age out. */
  private val idle = new ConcurrentLinkedDeque[(Any, classic.SparkSession)]()
  private val MaxIdle = 8

  /** Run `f` against a clone of `spark` with AQE off and the caller's
    * shuffle width until `f` calls `size`. `f` runs with the clone active, so
    * plans resolve their settings from it; frames enter through `apply` and
    * leave through `checkpoint` (or are consumed inside `f`). Frees every
    * frame still registered when `f` returns or throws. */
  def apply[T](spark: SparkSession)(f: SizedSession => T): T = {
    val parent = castToImpl(spark)
    // Everything a clone copies that can reach a plan or observe a query.
    val key = (parent.sessionUUID, parent.conf.getAll,
      parent.experimental.extraStrategies,
      parent.experimental.extraOptimizations,
      parent.listenerManager.listListeners().toSeq)
    // The newest match: its executor class loader holds what the last
    // operator compiled, so back-to-back operators share one loader's
    // entries in the codegen cache instead of rotating through the clones.
    val session = idle.descendingIterator.asScala.find(_._1 == key)
      .filter(idle.remove).fold(parent.cloneSession())(_._2)
    session.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
    session.conf.set(SQLConf.SHUFFLE_PARTITIONS.key,
      parent.conf.get(SQLConf.SHUFFLE_PARTITIONS.key))
    try CacheScope.using(new SizedSession(parent, session)) { w =>
      session.withActive(f(w))
    } finally {
      idle.offerLast((key, session))
      while (idle.size > MaxIdle) idle.pollFirst()
    }
  }
}
