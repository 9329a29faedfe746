package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{AnnOps, ClusterOps}
import QuerySupport._

/** Similarity search and clustering over the embeddings table: brute-force
  * cosine top-k, the three ANN index families (LSH, IVF, PQ), k-means and
  * SemDedup. */
object AnnQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec.of("q38_kmeans", Oracle(
      (kmeansChainSql + """
       SELECT vec_id, cluster, round(cos, 6) AS cos FROM af
       ORDER BY vec_id"""))) { (s, dir, _) =>
      // Spherical Lloyd's k-means (fixed 3 iterations, k=8, hash-sampled
      // deterministic init — the q23 centroid pattern) with every centroid
      // component rounded to 9 decimals per update, so the DuckDB oracle
      // replays the whole Lloyd loop as chained CTEs from the materialized
      // kmeans_init stage table and must land on identical assignments.
      val emb = t(s, dir, "embeddings")
      ClusterOps.kmeans(emb, KmeansK, KmeansIters,
          AnnOps.ivfCentroids(emb, KmeansK))._1
        .orderBy("vec_id")
    },
    QuerySpec.of("q39_semdedup", Oracle(
      (kmeansChainSql + s"""
       SELECT a.vec_id, a.cluster,
         EXISTS (SELECT 1 FROM af b
           WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
             AND round(list_cosine_similarity(a.dv, b.dv), 6) >= $SemDedupTau)
         AS dropped
       FROM af a ORDER BY a.vec_id"""))) { (s, dir, name) =>
      // SemDedup (Abbas et al. 2023): cluster first, then prune
      // near-duplicates INSIDE each cluster — pair work collapses from
      // O(N²) to Σ|cluster|². Drop rule: any lower-id cluster-mate with
      // round(cos, 6) ≥ τ (greedy keep-first-by-id; an EXISTS in the
      // oracle).
      val emb = t(s, dir, "embeddings")
      // Loan-pattern: stash INSIDE use so the persisted clustered-vector
      // table frees on return.
      ClusterOps.semDedup(emb, KmeansK, KmeansIters, SemDedupTau,
          AnnOps.ivfCentroids(emb, KmeansK)) { out =>
        stash(s, out.orderBy("vec_id"), name)
      }
    },
    QuerySpec.of("q15_cosine_topk", Oracle(
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, e.vec_id AS nid,
             list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS c
           FROM q CROSS JOIN embeddings e WHERE q.qid <> e.vec_id),
         ranked AS (
           SELECT qid, nid, c, row_number() OVER
             (PARTITION BY qid ORDER BY c DESC, nid ASC) AS rank
           FROM scored)
         SELECT qid, nid, round(c, 4) AS cos, rank FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""")) { (s, dir, _) =>
      // Oracle-checked through the SQL surface: `cosine_sim` resolves via
      // GraftExtensions (Verify/Bench sessions) — registered here too so the
      // query is self-contained in any session — and the plan matches
      // AnnOps.bruteForceTopK (broadcast query side, corpus streams once).
      graft.functions.CosineSim.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("q15_embeddings")
      s.sql("""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv
                   FROM q15_embeddings WHERE vec_id < 10),
        scored AS (
          SELECT /*+ BROADCAST(q) */ q.qid, e.vec_id AS nid,
            cosine_sim(q.qv, e.embedding) AS c
          FROM q JOIN q15_embeddings e ON q.qid <> e.vec_id),
        ranked AS (
          SELECT qid, nid, c, row_number() OVER
            (PARTITION BY qid ORDER BY c DESC, nid ASC) AS rank
          FROM scored)
        SELECT qid, nid, round(c, 4) AS cos, rank FROM ranked
        WHERE rank <= 5 ORDER BY qid, rank""")
    },
    // Even the confidence-ordered multi-probe flip order is recomputed from
    // the plane table: per (query, table), rank bits by (abs(dot), bit) and
    // flip the two least-confident ones (probes=3 → base + 2 flips); the
    // corpus side keeps base buckets only, as in `lshTopK`. Recall floors
    // stay pinned in OpsSpec.
    QuerySpec.of("q16_ann_lsh", Oracle(q16Sql),
        Some("913a088ede732564dda9f326c519edf5")) { (s, dir, _) =>
      val e = t(s, dir, "embeddings")
      AnnOps.lshTopK(e, e.where(col("vec_id") < 10), k = 5, dim = 64, bits = 6,
          probes = 3, tables = 16)
        .orderBy("qid", "rank")
    },
    // q23 exactness: cell assignment is argmax dot
    // against the materialized unit centroids (ties to the lower cell — the
    // kernel's (-s, ci) sort), queries probe their 8 nearest cells, exact
    // cosines, top-5 with the pinned (cos desc, nid asc) order.
    QuerySpec.of("q23_ann_ivf", Oracle(
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         c AS (SELECT cell, cvec FROM ${sp("ivf_centroids")}),
         ds AS (SELECT e.id, c.cell, list_dot_product(e.v, c.cvec) AS s
                FROM e CROSS JOIN c),
         ranked AS (
           SELECT id, cell, row_number() OVER
             (PARTITION BY id ORDER BY s DESC, cell ASC) AS r
           FROM ds),
         corpus AS (SELECT id AS nid, cell FROM ranked WHERE r = 1),
         probes AS (SELECT id AS qid, cell FROM ranked
                    WHERE r <= 8 AND id < 10),
         scored AS (
           SELECT p.qid, c2.nid, list_cosine_similarity(eq.v, en.v) AS c
           FROM probes p JOIN corpus c2 ON p.cell = c2.cell AND p.qid <> c2.nid
           JOIN e eq ON eq.id = p.qid JOIN e en ON en.id = c2.nid),
         rk AS (
           SELECT qid, nid, c, row_number() OVER
             (PARTITION BY qid ORDER BY c DESC, nid ASC) AS rank
           FROM scored)
         SELECT qid, nid, round(c, 4) AS cos, rank FROM rk
         WHERE rank <= 5 ORDER BY qid, rank"""),
        Some("d314385e12acc54b26759346f076619f")) { (s, dir, _) =>
      // IVF coarse-quantized ANN (second index family next to LSH);
      // recall < 1 by design — floor pinned in OpsSpec.
      val e = t(s, dir, "embeddings")
      AnnOps.ivfTopK(e, e.where(col("vec_id") < 10), k = 5, nCells = 64,
          nProbe = 8)
        .orderBy("qid", "rank")
    },
    QuerySpec.of("q42_ann_pq", Oracle(q42OracleSql)) { (s, dir, _) =>
      // PQ-compressed ANN (third index family — the MEMORY-scale path:
      // m-byte codes instead of dim·4-byte floats, ADC lookup scan, exact
      // re-rank of rerank·k candidates only). Fully oracled: DuckDB
      // re-encodes every vector against the materialized pq_codebook stage
      // table and replays ADC + re-rank.
      val e = t(s, dir, "embeddings")
      AnnOps.pqTopK(e, e.where(col("vec_id") < 10), k = 5, dim = EmbDim,
          m = PqM, ks = PqKs, rerank = PqRerank)
        .orderBy("qid", "rank")
    }
  )

  private def q16Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         p AS (SELECT CAST(pid // 6 AS BIGINT) AS tbl, pid % 6 AS bit, plane
               FROM ${sp("lsh_planes")}),
         dots AS (
           SELECT e.id, p.tbl, p.bit, list_dot_product(e.v, p.plane) AS dp
           FROM e CROSS JOIN p),
         base AS (
           SELECT id, tbl,
             CAST(sum(CASE WHEN dp > 0 THEN (1::BIGINT << bit)
                           ELSE 0::BIGINT END) AS BIGINT) AS bk
           FROM dots GROUP BY id, tbl),
         ckeys AS (SELECT id AS nid, (tbl << 6) + bk AS bucket FROM base),
         flips AS (
           SELECT id, tbl, bit,
             row_number() OVER (PARTITION BY id, tbl
               ORDER BY abs(dp), bit) AS rk
           FROM dots WHERE id < 10),
         qkeys AS (
           SELECT id AS qid, (tbl << 6) + bk AS bucket FROM base WHERE id < 10
           UNION ALL
           SELECT f.id, (f.tbl << 6) + xor(b.bk, (1::BIGINT << f.bit))
           FROM flips f JOIN base b ON b.id = f.id AND b.tbl = f.tbl
           WHERE f.rk <= 2),
         cand AS (
           SELECT DISTINCT q.qid, c.nid
           FROM qkeys q JOIN ckeys c ON q.bucket = c.bucket
             AND q.qid <> c.nid),
         scored AS (
           SELECT cand.qid, cand.nid,
             list_cosine_similarity(eq.v, en.v) AS c
           FROM cand JOIN e eq ON eq.id = cand.qid
           JOIN e en ON en.id = cand.nid),
         rk AS (
           SELECT qid, nid, c, row_number() OVER
             (PARTITION BY qid ORDER BY c DESC, nid ASC) AS rank
           FROM scored)
         SELECT qid, nid, round(c, 4) AS cos, rank FROM rk
         WHERE rank <= 5 ORDER BY qid, rank"""


  /** q42: the full PQ pipeline recomputed from the materialized codebook —
    * per-subspace argmin encode (squared L2 rounded to 9 decimals, ties to
    * the lowest code), the ADC approximate cosine (lut sum over assigned
    * codewords / (|q|·|reconstruction|), rounded to 9 — the same quantization
    * contract as the Spark side), the rerank·k candidate cut, and the
    * exact-cosine top-5 under the pinned (cos desc, nid asc) order. */
  private def q42OracleSql: String = {
    val sub = EmbDim / PqM
    val cap = PqRerank * 5
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
       cb AS (SELECT sub, code, cvec FROM ${sp("pq_codebook")}),
       sq AS (SELECT e.id, cb.sub, cb.code,
           round((SELECT sum((coalesce(e.v[cb.sub * $sub + i], 0)
                              - cb.cvec[i]) ^ 2)
                  FROM generate_series(1, $sub) g(i)), 9) AS dsq
         FROM e CROSS JOIN cb),
       enc AS (SELECT id, sub, code FROM (
           SELECT id, sub, code, row_number() OVER (PARTITION BY id, sub
             ORDER BY dsq ASC, code ASC) AS rn
           FROM sq) WHERE rn = 1),
       cwn AS (SELECT sub, code, list_dot_product(cvec, cvec) AS nsq FROM cb),
       qn AS (SELECT id AS qid, v AS qv, sqrt(list_dot_product(v, v)) AS qnorm
              FROM e WHERE id < 10),
       lut AS (SELECT q.qid, cb.sub, cb.code,
           list_dot_product(q.qv[cb.sub * $sub + 1 : (cb.sub + 1) * $sub],
             cb.cvec) AS ip
         FROM qn q CROSS JOIN cb),
       approx AS (
         SELECT l.qid, enc.id AS nid,
           round(CASE WHEN any_value(q.qnorm) = 0 OR sum(n.nsq) = 0
             THEN CAST(0 AS DOUBLE)
             ELSE sum(l.ip) / (any_value(q.qnorm) * sqrt(sum(n.nsq))) END,
             9) AS a
         FROM enc
         JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
         JOIN cwn n ON n.sub = enc.sub AND n.code = enc.code
         JOIN qn q ON q.qid = l.qid
         WHERE l.qid <> enc.id
         GROUP BY l.qid, enc.id),
       cand AS (SELECT qid, nid FROM (
           SELECT qid, nid, row_number() OVER (PARTITION BY qid
             ORDER BY a DESC, nid ASC) AS rn
           FROM approx) WHERE rn <= $cap),
       scored AS (SELECT cand.qid, cand.nid,
           list_cosine_similarity(eq.v, en.v) AS c
         FROM cand JOIN e eq ON eq.id = cand.qid
         JOIN e en ON en.id = cand.nid),
       rk AS (SELECT qid, nid, c, row_number() OVER
           (PARTITION BY qid ORDER BY c DESC, nid ASC) AS rank
         FROM scored)
       SELECT qid, nid, round(c, 4) AS cos, rank FROM rk
       WHERE rank <= 5 ORDER BY qid, rank"""
  }

  // q38/q39 clustering contract — shared by the Spark queries, the
  // kmeans_init stage table, and the generated oracle chain.
  private[queries] val KmeansK = 8
  private[queries] val KmeansIters = 3
  private[queries] val SemDedupTau = 0.4
  // q42 product-quantization contract — shared by the Spark query, the
  // pq_codebook stage table, and the generated oracle chain.
  private[queries] val PqM = 8
  private[queries] val PqKs = 16
  private[queries] val PqRerank = 4

  // Dimension of the harness's embeddings table — the oracle's mean CTE
  // iterates positions 1..EmbDim explicitly (DuckDB would yield NULL past
  // the list end and silently freeze every centroid); the Spark side
  // adapts to the data, so a dimension change must only touch this val.
  private[queries] val EmbDim = 64

  /** The Lloyd chain as DuckDB CTEs: assignment (rank-1 by cosine desc,
    * cluster asc — the argmax-with-lowest-cluster-tie contract), component
    * means rounded to 9, L2-normalize, round 9 again, empty/zero-norm
    * clusters keeping their previous centroid — step for step the
    * `ClusterOps.kmeans` update rule, iterated from the SAME materialized
    * init table the Spark query derives. `af` is the final predict pass. */
  private def kmeansChainSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
           FROM embeddings),
         c0 AS (SELECT cell AS cluster, cvec AS cv FROM ${sp("kmeans_init")})"""
    for (i <- 1 to KmeansIters) {
      sb ++= s""",
         a$i AS (SELECT vec_id, dv, cluster FROM (
             SELECT e.vec_id, e.dv, c.cluster,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.dv, c.cv) DESC, c.cluster)
                 AS rn
             FROM e CROSS JOIN c${i - 1} c) WHERE rn = 1),
         m$i AS (SELECT cluster, i AS pos, round(avg(dv[i]), 9) AS mx
             FROM a$i CROSS JOIN (SELECT CAST(unnest(
               generate_series(1, $EmbDim)) AS INT) AS i) ix
             GROUP BY cluster, i),
         n$i AS (SELECT cluster, sqrt(sum(mx*mx)) AS nrm FROM m$i
             GROUP BY cluster),
         c$i AS (SELECT p.cluster, coalesce(agg.cv, p.cv) AS cv
             FROM c${i - 1} p LEFT JOIN (
               SELECT m.cluster, list(round(m.mx / n.nrm, 9) ORDER BY m.pos)
                 AS cv
               FROM m$i m JOIN n$i n USING (cluster) WHERE n.nrm > 0
               GROUP BY m.cluster) agg USING (cluster))"""
    }
    sb ++= s""",
         af AS (SELECT vec_id, dv, cluster, cos FROM (
             SELECT e.vec_id, e.dv, c.cluster,
               list_cosine_similarity(e.dv, c.cv) AS cos,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.dv, c.cv) DESC, c.cluster)
                 AS rn
             FROM e CROSS JOIN c$KmeansIters c) WHERE rn = 1)"""
    sb.toString
  }
}
