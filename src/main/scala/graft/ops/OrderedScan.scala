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
    * `weight` over the total order `order`, as a lazy frame that holds no
    * cache. Both passes read one RDD of the ranged, sorted rows: the totals
    * job's shuffle output is reused by the stamping pass, which sorts each
    * range partition again instead of caching it, so there is nothing for a
    * caller to release; a caller that reads the result more than once
    * persists or checkpoints it itself. With one range partition the totals
    * job is skipped (the running sum starts at 0).
    * `numPartitions` ≤ 0 (default) ranges into cluster-width
    * partitions; callers that have already COUNTED the input can pass a
    * data-proportional count (round 6 — the stamped values are a pure
    * function of the total order, so the partition count never reaches the
    * output; pinned by OpsSpec's partitioning-invariance tests). */
  def exclusivePrefixSum(df: DataFrame, order: Seq[Column], weight: Column,
      outCol: String, numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val np =
      if (numPartitions > 0) numPartitions
      else math.max(1, spark.sparkContext.defaultParallelism)
    val arranged = df.withColumn("__w", weight.cast("long"))
      .repartitionByRange(np, order: _*)
      .sortWithinPartitions(order: _*)
    val wIdx = arranged.schema.fieldIndex("__w")
    val rows = arranged.rdd
    // Driver state: one Long per range partition.
    val offsets =
      if (np == 1) Array(0L)
      else rows.mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(s += _.getLong(wIdx)); Iterator((i, s))
      }.collect().sortBy(_._1).map(_._2).scanLeft(0L)(_ + _)
    val stamped = rows.mapPartitionsWithIndex { (i, it) =>
      var cum = offsets(i)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ cum); cum += r.getLong(wIdx); out
      }
    }
    spark.createDataFrame(stamped, arranged.schema.add(outCol, "long"))
      .drop("__w")
  }
}
