package graft.ops

import org.apache.spark.sql.DataFrame

/** Parallelism helpers shared by the ops family (round 6, guide §2.5/§6).
  *
  * [[scanSpread]] — a scan-parallelism floor for CPU-HEAVY NARROW expansions
  * (shingle/span/token explodes: ~10²-10³ output rows and a hash per input
  * row): when the upstream scan yields fewer partitions than the cluster has
  * cores (the "one huge unsplittable file" input-skew case — a single
  * parquet file with one row group cannot be split, so the whole explode
  * chain runs in ONE task while every other core idles; measured 2-3.5 s
  * single-task stages on this box), repartition the PROJECTED input
  * round-robin to 2× cluster width first. The repartition moves only the
  * projected columns (id + text — §2.3 "project before the exchange"), and
  * only fires when the scan is narrower than the cluster: a 100 TB input
  * already carries thousands of splits, so the gate makes this a no-op at
  * scale rather than an accidental full-corpus shuffle. Results are
  * unchanged by construction — every consumer is a hash aggregation / join /
  * window keyed on row values, and round-robin repartition is deterministic
  * under retries (sort-before-repartition, SPARK-23207).
  */
object Par {

  /** Floor the partition count of a narrow, cheap-to-shuffle input that
    * feeds expensive per-row expansion. No-op when the input already has at
    * least cluster-width partitions (the at-scale case). */
  def scanSpread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // .rdd builds the physical RDD lazily (no job); partition count of a
    // narrow scan chain is known without executing it.
    if (p <= 1 || df.rdd.getNumPartitions >= p) df
    else df.repartition(2 * p)
  }

  /** Shuffle-partition count proportional to a COUNTED row volume (~50k rows
    * per partition), capped at 4× cluster width — the width the graph
    * operators and the derived KG analytics give their shuffles explicitly,
    * as a `HashPartitioner` or a `repartition(n, keys)`, in the caller's
    * session. At 100 TB the cap binds and the sizing is the cluster's; at
    * query-batch scale it stops a 1k-row aggregation from paying
    * session-width task-launch overhead on every exchange. */
  def partitionsFor(spark: org.apache.spark.sql.SparkSession, rows: Long): Int =
    math.max(1L, math.min(rows / 50000L + 1,
      4L * spark.sparkContext.defaultParallelism)).toInt
}
