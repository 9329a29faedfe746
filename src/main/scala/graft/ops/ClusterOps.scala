package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheScope

/** Embedding-space clustering and the cluster-based semantic dedup built on
  * it (SemDedup, Abbas et al. 2023: cluster the corpus, then prune
  * near-duplicates INSIDE each cluster — the all-pairs cosine work collapses
  * from O(N²) to Σ|cluster|², which is what makes semantic dedup feasible at
  * corpus scale; MinHash/LSH catch lexical near-dups, this family catches
  * paraphrases the shingle operators cannot).
  *
  * Determinism contract (the same cross-engine quantization argument as
  * `Linker.TopK` and the cosine family): every centroid component is
  * `round(·, 9)` after each update, so both Spark and the DuckDB oracle
  * iterate from bit-identical centroid tables — double sums over a cluster
  * differ between engines at ~1e-16 while the rounding grid is 5e-10.
  * Assignment argmax pins ties to the LOWEST cluster id.
  */
object ClusterOps {

  /** Spherical Lloyd's k-means with a FIXED iteration count (deterministic
    * output, no convergence race) over unit-normalized double vectors.
    *
    * Shape for 100 TB: the centroid table is k×dim doubles — driver-held
    * and broadcast into codegen'd `CosineSim` literals (the MLlib pattern);
    * each iteration is ONE narrow assignment projection over the corpus +
    * ONE (cluster, pos)-keyed partial-aggregated mean — map-side combine
    * bounds the shuffle at k·dim rows per task regardless of corpus size.
    * No per-row UDF anywhere: assignment is an array_position(array_max)
    * over k codegen'd cosine expressions.
    *
    * Update rule per cluster: component means (round 9) → L2-normalize →
    * round 9. An empty cluster (or zero-norm mean) keeps its previous
    * centroid — mirrored exactly by the oracle SQL.
    *
    * Returns the final per-vector assignment against the POST-update
    * centroids (the standard predict step) and those centroids.
    * Output columns: (idCol, cluster: int, cos: double round 6). */
  def kmeans(emb: DataFrame, k: Int, iters: Int,
      init: Array[(Int, Array[Double])], idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, Array[Array[Double]]) = {
    require(init.length == k, s"need $k init centroids, got ${init.length}")
    val dv = col(vecCol).cast("array<double>")
    val base = emb.select(col(idCol), dv.as("dv"))

    def assignCol(cs: Array[Array[Double]]): Column = {
      val sims = array(cs.map(c => AnnOps.cosine(col("dv"), typedlit(c))): _*)
      // array_position finds the FIRST max → ties pin to lowest cluster id.
      (array_position(sims, array_max(sims)) - 1).cast("int")
    }
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

    var cs: Array[Array[Double]] = init.sortBy(_._1).map(_._2)
    val dim = cs.head.length
    var it = 0
    while (it < iters) {
      val means = base.select(col("dv"), assignCol(cs).as("cl"))
        .select(col("cl"), posexplode(col("dv")).as(Seq("pos", "x")))
        .groupBy("cl", "pos").agg(avg("x").as("m"))
        .collect() // bounded: k·dim rows
        .map(r => ((r.getAs[Int]("cl"), r.getAs[Int]("pos")),
          round9(r.getAs[Double]("m"))))
        .toMap
      cs = cs.zipWithIndex.map { case (prev, cl) =>
        if (!means.contains((cl, 0))) prev // empty cluster: centroid frozen
        else {
          val m = Array.tabulate(dim)(p => means((cl, p)))
          val nrm = math.sqrt(m.map(x => x * x).sum)
          if (nrm == 0) prev else m.map(x => round9(x / nrm))
        }
      }
      it += 1
    }
    val out = base.select(col(idCol), col("dv"), assignCol(cs).as("cluster"))
      .withColumn("sims", array(cs.map(c =>
        AnnOps.cosine(col("dv"), typedlit(c))): _*))
      .select(col(idCol), col("cluster"),
        round(element_at(col("sims"), col("cluster") + 1), 6).as("cos"))
    (out, cs)
  }

  /** SemDedup prune pass: within each k-means cluster, a vector is DROPPED
    * iff some LOWER-id vector in the same cluster has cosine ≥ `threshold`
    * (greedy keep-first-by-id — deterministic, and exactly expressible as
    * an EXISTS self-join in the oracle SQL). Pair work is Σ|cluster|², the
    * bound the clustering exists to provide; the self-join is cluster-keyed
    * so a hash join, never a cartesian product.
    *
    * Loan-pattern like [[graft.kg.GraphOps.pageRank]]: the clustered-vector
    * table feeds BOTH self-join sides and the output projection, so it is
    * cached in a [[CacheScope]] for the duration of `use` — otherwise each
    * consumer would re-scan the corpus and re-run the k-cosine assignment
    * projection.
    *
    * Result columns: (idCol, cluster, dropped: boolean). */
  def semDedup[T](emb: DataFrame, k: Int, iters: Int, threshold: Double,
      init: Array[(Int, Array[Double])], idCol: String = "vec_id",
      vecCol: String = "embedding")(use: DataFrame => T): T = {
    val (assigned, _) = kmeans(emb, k, iters, init, idCol, vecCol)
    val dv = col(vecCol).cast("array<double>")
    CacheScope { cache =>
      val withVec = cache.persist(emb.select(col(idCol), dv.as("dv"))
        .join(assigned.select(col(idCol), col("cluster")), Seq(idCol)))
      val l = withVec.select(col(idCol).as("lid"), col("dv").as("lv"),
        col("cluster"))
      val r = withVec.select(col(idCol).as("rid"), col("dv").as("rv"),
        col("cluster"))
      val droppedIds = l.join(r, Seq("cluster"))
        .where(col("rid") < col("lid") &&
          round(AnnOps.cosine(col("lv"), col("rv")), 6) >= threshold)
        .select(col("lid").as(idCol)).distinct()
      use(withVec.select(col(idCol), col("cluster"))
        .join(droppedIds.withColumn("dropped", lit(true)), Seq(idCol), "left")
        .withColumn("dropped", coalesce(col("dropped"), lit(false))))
    }
  }
}
