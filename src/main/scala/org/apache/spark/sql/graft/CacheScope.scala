package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** The one owner of the caches the library makes.
  *
  * Lifetime rule: a scope owns every frame, RDD and resource registered with
  * it. `persist` and `localCheckpoint` cache and register, `hold` registers
  * anything with the call that frees it (a `LinkIndex`, a running stream),
  * and `drop` frees one early (an iteration loop's previous round). Whatever
  * is still registered is freed, newest first, when `CacheScope.apply` (or
  * `using`) returns or throws, so code whose `use` runs inside the scope
  * leaves nothing behind. A result leaves the scope only through
  * `checkpoint`; its blocks are then the caller's, freed with
  * [[CheckpointBlocks.release]] once the result is materialized.
  *
  * A sized operator (`GraphOps`, `DedupOps.connectedComponents`, the
  * derived `KgPipeline` analytics) runs in a plain `CacheScope { w => … }`,
  * and `PersistStages` (`KgPipeline.run`'s default stage policy) is a
  * scope. A `KgRun` that outlives the block it was made in frees its stages
  * with `release`.
  */
class CacheScope {

  /** Registered values, oldest first, each with the call that frees it. */
  private val held = ArrayBuffer.empty[(AnyRef, () => Unit)]

  /** Register `x` with the call that frees it. */
  def hold[A <: AnyRef](x: A)(free: A => Unit): A = {
    held += ((x, () => free(x)))
    x
  }

  /** `ds` persisted (memory and disk) for the scope. */
  def persist[T](ds: Dataset[T]): Dataset[T] =
    hold(ds.persist(StorageLevel.MEMORY_AND_DISK))(_.unpersist())

  /** `rdd` persisted (memory and disk) for the scope. */
  def persist[T](rdd: RDD[T]): RDD[T] =
    hold(rdd.persist(StorageLevel.MEMORY_AND_DISK))(_.unpersist(false))

  /** `df` eagerly `localCheckpoint`ed for the scope: its analyzed plan
    * collapses to a `LogicalRDD` leaf, whose blocks the scope frees. */
  def localCheckpoint(df: DataFrame): DataFrame =
    hold(df.localCheckpoint(true))(CheckpointBlocks.release)

  /** `df` eagerly `localCheckpoint`ed and NOT registered: the result that
    * leaves the scope. */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Free a registered value now. */
  def drop(x: AnyRef): Unit = {
    val i = held.indexWhere(_._1 eq x)
    if (i >= 0) held.remove(i)._2()
  }

  /** Free everything still registered, newest first. */
  def release(): Unit =
    while (held.nonEmpty) held.remove(held.length - 1)._2()
}

object CacheScope {

  /** Run `f` with a fresh scope; frees what it holds when `f` returns or
    * throws. */
  def apply[T](f: CacheScope => T): T = using(new CacheScope)(f)

  /** Run `f` with `scope`; frees what it holds when `f` returns or throws. */
  def using[S <: CacheScope, T](scope: S)(f: S => T): T =
    try f(scope) finally scope.release()
}
