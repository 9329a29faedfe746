package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}

/** The distributed two-pass exclusive prefix sum over a total order — the
  * shared scaffolding under [[TextOps.epochShards]] (token offsets) and
  * [[DedupOps.sortedNeighborhood]] (global ranks, weight 1). A global
  * running sum is NOT a single-partition window (the classic 100 TB
  * killer): repartitionByRange + sortWithinPartitions impose the total
  * order, one tiny job collects per-partition weight totals (driver state:
  * one Long per partition), and a narrow second pass stamps each row with
  * the exact running sum BEFORE it. The result is a pure function of the
  * input whenever `order` is tie-free (callers append a unique id), so the
  * stamped values are partitioning-invariant.
  */
object OrderedScan {

  /** Returns `df`'s columns plus `outCol` = the exclusive running sum of
    * `weight` over the total order `order`. The result is eagerly
    * materialized by `checkpoint` before the internal two-pass parent is
    * unpersisted: by default a `localCheckpoint` whose blocks the caller
    * frees with `CheckpointBlocks.release`; a sized operator passes its
    * `SizedSession` scope's `localCheckpoint`, so the scope frees them.
    * `numPartitions` ≤ 0 (default) ranges into cluster-width
    * partitions; callers that have already COUNTED the input can pass a
    * data-proportional count (round 6 — the stamped values are a pure
    * function of the total order, so the partition count never reaches the
    * output; pinned by OpsSpec's partitioning-invariance tests). */
  def exclusivePrefixSum(df: DataFrame, order: Seq[Column], weight: Column,
      outCol: String, numPartitions: Int = 0,
      checkpoint: DataFrame => DataFrame = _.localCheckpoint(true)): DataFrame = {
    val spark = df.sparkSession
    val np =
      if (numPartitions > 0) numPartitions
      else math.max(1, spark.sparkContext.defaultParallelism)
    val arranged0 = df.withColumn("__w", weight.cast("long"))
      .repartitionByRange(np, order: _*)
      .sortWithinPartitions(order: _*)
    if (np == 1) {
      // Single-partition fast path (round 6): with one range partition the
      // exclusive sum needs no per-partition totals — skip the totals job,
      // the broadcast, and the two-pass persist; one sorted pass stamps the
      // running sum from 0. Identical values by construction (the np>1 path
      // reduces to exactly this when offsets = [0]); used by callers whose
      // counted input sized down to one partition (e.g. negativeSamples'
      // pool at query-batch scale).
      val wIdx = arranged0.schema.fieldIndex("__w")
      val stamped = arranged0.rdd.mapPartitions { it =>
        var cum = 0L
        it.map { r =>
          val out = Row.fromSeq(r.toSeq :+ cum); cum += r.getLong(wIdx); out
        }
      }
      return checkpoint(
        spark.createDataFrame(stamped, arranged0.schema.add(outCol, "long"))
          .drop("__w"))
    }
    val arranged = arranged0.persist()
    try {
      val wIdx = arranged.schema.fieldIndex("__w")
      val totals = arranged.rdd.mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(s += _.getLong(wIdx)); Iterator((i, s))
      }.collect().sortBy(_._1).map(_._2)
      val offsets = totals.scanLeft(0L)(_ + _)
      val bOff = spark.sparkContext.broadcast(offsets)
      val stamped = arranged.rdd.mapPartitionsWithIndex { (i, it) =>
        var cum = bOff.value(i)
        it.map { r =>
          val out = Row.fromSeq(r.toSeq :+ cum); cum += r.getLong(wIdx); out
        }
      }
      // Materialize before unpersisting the two-pass parent.
      checkpoint(spark.createDataFrame(stamped, arranged.schema.add(outCol, "long"))
        .drop("__w"))
    } finally { arranged.unpersist(); () }
  }
}
