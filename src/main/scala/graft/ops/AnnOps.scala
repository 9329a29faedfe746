package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CosineSim, HyperplaneBits, HyperplaneProbes}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), Spark-first:
  *
  *  - brute-force cosine top-k: `zip_with`/`aggregate` higher-order functions
  *    compute the dot product inside codegen (no UDF); a window `row_number`
  *    keeps top-k per query. Baseline + correctness oracle.
  *  - random-hyperplane LSH: deterministic literal hyperplanes (seeded) →
  *    sign-bit bucket key; only same-bucket pairs are scored. The 100 TB
  *    path: the bucket join replaces the full crossproduct, turning O(N·Q)
  *    into O(N·Q/2^bits) expected.
  *  - IVF coarse quantization (`ivfTopK`): same shape, the bucket is the
  *    nearest of a broadcast deterministic centroid list; queries probe
  *    their `nProbe` nearest cells.
  *  - product quantization (`pqTopK`): ADC scan over m-byte codes, exact
  *    re-rank of the top candidates — the memory-scale path.
  */
object AnnOps {

  /** Cosine similarity between two array<float> columns, double precision,
    * 0 when either norm is 0 — the native codegen'd Catalyst expression
    * (`org.apache.spark.sql.graft.CosineSim`). */
  def cosine(a: Column, b: Column): Column = CosineSim(a, b)

  /** The original higher-order-function formulation — kept as the
    * independent semantics witness for the native expression (OpsSpec pins
    * native == HOF to 1e-12). HOFs run the per-element lambda outside
    * codegen, ~20× slower per pair; never used in the hot paths. */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (acc, x) => acc + x))
    when(na === 0 || nb === 0, 0.0).otherwise(dot / (na * nb))
  }

  /** Brute-force cosine top-k of `queries` against `corpus`.
    * Broadcast the (small) query side — the corpus streams once, no shuffle
    * until the tiny top-k window. Ties pinned by neighbor id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Deterministic random hyperplanes: `bits` planes of dimension `dim`,
    * seeded — identical on driver and executors. */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] =
    // Canonical generator lives with the expressions so the SQL surface
    // (`hyperplane_bits(v, dim, bits, seed)`) buckets identically.
    org.apache.spark.sql.graft.LshKernel.hyperplanes(dim, bits, seed)

  /** Sign-bit LSH bucket key for an embedding column: bit b set iff
    * dot(vec, plane_b) > 0 — the native codegen'd Catalyst expression
    * (round 2 measured the HOF formulation as the q16/q22 hot-path constant:
    * bits×tables interpreted lambdas per corpus row). */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    HyperplaneBits(vec, planes)

  /** The original higher-order-function formulation — kept as the
    * independent semantics witness (OpsSpec pins native == HOF exactly:
    * both accumulate the same doubles in the same order). */
  def lshBucketHof(vec: Column, planes: Array[Array[Double]]): Column = {
    val vd = transform(vec, x => x.cast("double"))
    planes.zipWithIndex.map { case (p, b) =>
      val planeLit = array(p.map(lit): _*)
      val dot = aggregate(zip_with(vd, planeLit, (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x)
      when(dot > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** LSH-bucketed ANN top-k: queries only score corpus vectors sharing a
    * bucket in at least one hash table. Recall < 1 by design; measured
    * against `bruteForceTopK` by `recallVsBrute` (OpsSpec pins a floor).
    *
    * Recall levers (AND-OR amplification; Leskovec et al., MMDS ch. 3):
    *  - `tables`: L independent hyperplane tables — a pair is a candidate if
    *    it collides in ANY table. Recall 1-(1-p^bits)^L. Cost: corpus rows
    *    replicate ×L through the bucket join (the standard LSH space/compute
    *    trade; at 100 TB this is the knob you budget, and the alternative
    *    IVF layout shares the same join shape).
    *  - `probes`: per table, also probe the hamming-1 buckets flipping the
    *    `probes-1` LEAST-CONFIDENT bits (smallest |dot| — Lv et al.
    *    multi-probe, VLDB 2007): the near-boundary sign bits are the ones a
    *    true neighbor most plausibly landed across. Replicates only the
    *    tiny broadcast QUERY side, corpus untouched.
    * Both leave the scale shape intact: a bucket join, never a cross
    * product. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      bits: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      probes: Int = 1, tables: Int = 1): DataFrame = {
    val planes = hyperplanes(dim, bits * tables)
    def tablePlanes(t: Int) = planes.slice(t * bits, (t + 1) * bits)
    // Key = table*2^bits + bucket: one join column across all tables.
    val cKeys = (0 until tables).map { t =>
      lshBucket(col(vecCol), tablePlanes(t)) + lit(t.toLong << bits)
    }
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"),
      explode(array(cKeys: _*)).as("bucket"))
    val qKeys = (0 until tables).map { t =>
      // Confidence-ordered probe buckets, shifted into this table's key
      // space (the transform HOF is fine here: a handful of QUERY rows).
      transform(
        HyperplaneProbes(col(vecCol), tablePlanes(t), probes),
        b => b + lit(t.toLong << bits))
    }
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      explode(flatten(array(qKeys: _*))).as("bucket"))
    val joined = c.join(broadcast(q), Seq("bucket"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("nvec")).as("cos"))
    // Single table + single probe cannot produce duplicate pairs — skip the
    // dedup shuffle there.
    val scored = if (tables > 1 || probes > 1) joined.distinct() else joined
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** IVF (inverted-file) coarse quantization — the second standard ANN index
    * family next to LSH, same scale shape (a cell join, never a cross
    * product):
    *
    *  - centroids: a DETERMINISTIC hash-ordered sample of the corpus itself
    *    (smallest xxhash64(id) wins) — no Lloyd iterations, because
    *    floating-point mean accumulation is partitioning-order-dependent and
    *    this engine pins bit-identical results under ANY partitioning; a
    *    sampled quantizer trades a little cell balance for that guarantee.
    *  - assignment: argmax cosine to the broadcast centroid table, one pass
    *    per partition (the centroid table is tiny: nCells × dim doubles).
    *  - queries probe their `nProbe` nearest cells; only those cells' corpus
    *    vectors are scored exactly. Expected cost O(N·Q·nProbe/nCells).
    *
    * Recall < 1 by design; measured against `bruteForceTopK` in OpsSpec. */
  /** The deterministic IVF coarse quantizer: a hash-ordered corpus sample
    * (smallest xxhash64(id) wins), L2-normalized, indexed by ascending
    * source id. Exposed so the DuckDB oracle can materialize the exact
    * centroid table `ivfTopK` quantizes against and recompute cell
    * assignment + probing + cosines independently (stage-table pattern). */
  def ivfCentroids(corpus: DataFrame, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[(Int, Array[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h"), col("id")).limit(nCells)
      .select("id", "v").as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
      .zipWithIndex
      .map { case ((_, v), i) =>
        val d = v.map(_.toDouble)
        val n = math.sqrt(d.map(x => x * x).sum)
        (i, if (n == 0) d else d.map(_ / n))
      }
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int,
      nProbe: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = ivfCentroids(corpus, nCells, idCol, vecCol)
    val bc = spark.sparkContext.broadcast(centroids)

    def cellsOf(vec: Array[Float], top: Int): Array[Int] = {
      val cs = bc.value
      // cosine to unit centroids = dot / |vec|; |vec| constant per row, so
      // argmax over dot alone; ties pinned by cell index.
      val dots = cs.map { case (ci, c) =>
        var s = 0.0; var i = 0
        while (i < c.length && i < vec.length) { s += c(i) * vec(i); i += 1 }
        (ci, s)
      }
      dots.sortBy { case (ci, s) => (-s, ci) }.take(top).map(_._1)
    }

    val cTyped = corpus.select(col(idCol).cast("long").as("nid"),
      col(vecCol).as("nvec")).as[(Long, Array[Float])]
    val cCells = cTyped.mapPartitions(_.map { case (id, v) =>
      (id, v, cellsOf(v, 1)(0))
    }).toDF("nid", "nvec", "cell")
    val qTyped = queries.select(col(idCol).cast("long").as("qid"),
      col(vecCol).as("qvec")).as[(Long, Array[Float])]
    val qCells = qTyped.mapPartitions(_.flatMap { case (id, v) =>
      cellsOf(v, nProbe).map(c => (id, v, c))
    }).toDF("qid", "qvec", "cell")

    val scored = cCells.join(broadcast(qCells), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Product-quantization codebook (Jégou et al., TPAMI 2011): the vector
    * space split into `m` subspaces of `dim/m` components; each subspace
    * gets `ks` codewords. Like [[ivfCentroids]], the codewords are a
    * DETERMINISTIC hash-ordered corpus sample (smallest xxhash64(id) wins,
    * indexed by ascending source id, unnormalized — PQ encodes by L2
    * distance on raw subvectors), not Lloyd-trained: a sampled quantizer
    * trades a little quantization error for bit-identical results under
    * any partitioning. Exposed so the DuckDB oracle can materialize the
    * exact codebook (`pq_codebook` stage table) and recompute encoding,
    * ADC scores, and the re-rank independently.
    *
    * Returns (sub, code, codeword) rows, code in [0, ks). */
  def pqCodebook(corpus: DataFrame, dim: Int, m: Int, ks: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[(Int, Int, Array[Double])] = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h"), col("id")).limit(ks)
      .select("id", "v").as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
    for {
      s <- (0 until m).toArray
      (v, code) <- sample.map(_._2).zipWithIndex
    } yield (s, code, Array.tabulate(sub)(i =>
      if (s * sub + i < v.length) v(s * sub + i).toDouble else 0.0))
  }

  /** PQ-compressed ANN top-k with asymmetric-distance (ADC) scan + exact
    * re-rank — the MEMORY-scale path of the ANN family: at 100 TB of
    * float32 embeddings the raw vectors cannot stay resident, but the PQ
    * codes are `m` bytes per vector (dim·4 / m compression, 32× at
    * dim=64/m=8), so the first-pass scan runs entirely over the compressed
    * index and the raw vectors are touched only for the `rerank·k`
    * candidates per query (Jégou et al. 2011; composes with [[ivfTopK]]'s
    * cell routing the way IVFADC does — each cell's codes scanned only for
    * queries probing it).
    *
    * Pipeline (every step deterministic and DuckDB-replayable):
    *  1. encode: per subspace, argmin round-9 squared L2 distance to the
    *     codebook, ties to the lowest code — a narrow mapPartitions over
    *     the corpus (the broadcast codebook is ks·dim doubles).
    *  2. ADC scan: per query, an m×ks inner-product lookup table; the
    *     approximate cosine of a corpus row is Σ_s lut(s, code_s) divided
    *     by |q|·|reconstruction|, rounded to 9 (the cross-engine
    *     quantization contract — sub-ULP accumulation noise must not flip
    *     the candidate cut). Per-partition BOUNDED heaps (rerank·k per
    *     query) feed a global top cut, so the shuffle carries
    *     partitions·queries·rerank·k tiny rows, never the corpus.
    *  3. exact re-rank: only the candidates' raw vectors are read (a
    *     broadcast join — the candidate list is queries·rerank·k rows),
    *     exact codegen'd cosine, pinned (cos desc, nid asc) top-k.
    *
    * The query side is collected + broadcast — bounded by the same
    * contract as every ANN operator here (queries ≪ corpus).
    * Recall < 1 by design; floor pinned in OpsSpec vs [[bruteForceTopK]]. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, ks: Int = 16, rerank: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = dim / m
    val cbRows = pqCodebook(corpus, dim, m, ks, idCol, vecCol)
    // Effective codebook size (a corpus smaller than ks yields fewer
    // codewords); cw(s)(j) = codeword, cwNormSq(s)(j) = its squared norm.
    val ksEff = cbRows.length / m
    require(ksEff > 0, "empty corpus: no PQ codebook")
    val cw = Array.tabulate(m, ksEff) { (s, j) => cbRows(s * ksEff + j)._3 }
    val cwNormSq = Array.tabulate(m, ksEff) { (s, j) =>
      var x = 0.0; var i = 0
      while (i < sub) { x += cw(s)(j)(i) * cw(s)(j)(i); i += 1 }
      x
    }
    val qRows = queries
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast((cw, cwNormSq, qRows))
    val capacity = rerank * k

    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

    val cTyped = corpus.select(col(idCol).cast("long").as("nid"),
      col(vecCol).as("nvec")).as[(Long, Array[Float])]
    val partial = cTyped.mapPartitions { it =>
      val (cwv, cwn, qs) = bc.value
      // Per-query ADC lookup tables + norms, computed once per partition.
      val lut = qs.map { case (_, qv) =>
        Array.tabulate(m, cwv(0).length) { (s, j) =>
          var x = 0.0; var i = 0
          while (i < sub) {
            val qi = s * sub + i
            if (qi < qv.length) x += qv(qi) * cwv(s)(j)(i)
            i += 1
          }
          x
        }
      }
      val qNorm = qs.map { case (_, qv) =>
        var x = 0.0; var i = 0
        while (i < qv.length) { x += qv(i).toDouble * qv(i); i += 1 }
        math.sqrt(x)
      }
      // Worst candidate on top: smaller approx (then larger nid) = greater.
      val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
        case (a, nid) => (-a, nid)
      }
      val heaps = Array.fill(qs.length)(
        scala.collection.mutable.PriorityQueue.empty[(Double, Long)](worstFirst))
      it.foreach { case (nid, nvec) =>
        // encode: per subspace, argmin round-9 squared distance, ties low.
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) {
          var best = 0; var bestD = Double.MaxValue
          var j = 0
          while (j < cwv(s).length) {
            var d = 0.0; var i = 0
            while (i < sub) {
              val vi = s * sub + i
              val x = (if (vi < nvec.length) nvec(vi).toDouble else 0.0) -
                cwv(s)(j)(i)
              d += x * x
              i += 1
            }
            val dr = r9(d)
            if (dr < bestD) { best = j; bestD = dr }
            j += 1
          }
          codes(s) = best
          s += 1
        }
        var recSq = 0.0
        var s2 = 0
        while (s2 < m) { recSq += cwn(s2)(codes(s2)); s2 += 1 }
        val rec = math.sqrt(recSq)
        var q = 0
        while (q < qs.length) {
          if (qs(q)._1 != nid) {
            var dot = 0.0; var s3 = 0
            while (s3 < m) { dot += lut(q)(s3)(codes(s3)); s3 += 1 }
            val a = r9(if (qNorm(q) == 0 || rec == 0) 0.0
              else dot / (qNorm(q) * rec))
            val h = heaps(q)
            if (h.size < capacity) h.enqueue((a, nid))
            else {
              val (wa, wn) = h.head
              if (a > wa || (a == wa && nid < wn)) {
                h.dequeue(); h.enqueue((a, nid)); ()
              }
            }
          }
          q += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.map { case (a, nid) => (qs(q)._1, nid, a) }
      }
    }.toDF("qid", "nid", "approx")
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("approx").desc, col("nid").asc)
    val cand = partial.withColumn("rn", row_number().over(wc))
      .where(col("rn") <= capacity)
      .select("qid", "nid")
    val qDf = queries.select(col(idCol).cast("long").as("qid"),
      col(vecCol).as("qvec"))
    val scored = corpus
      .select(col(idCol).cast("long").as("nid"), col(vecCol).as("nvec"))
      .join(broadcast(cand), Seq("nid"))
      .join(broadcast(qDf), Seq("qid"))
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Top-k recall of an ANN result vs the brute-force result: the fraction of
    * true top-k (qid, nid) pairs the ANN run recovered. */
  def recallVsBrute(ann: DataFrame, brute: DataFrame): Double = {
    val hits = brute.select("qid", "nid")
      .join(ann.select("qid", "nid"), Seq("qid", "nid"), "left_semi").count()
    val total = brute.count()
    if (total == 0) 1.0 else hits.toDouble / total
  }
}
