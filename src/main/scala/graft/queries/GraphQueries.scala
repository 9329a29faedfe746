package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{CacheScope, CheckpointBlocks}

import graft.kg.{GraphOps, KgPipeline}
import graft.pipeline.PersistStages
import QuerySupport._

/** Graph analytics over the engine's own materialized co-mention graph.
  * Each oracle re-derives the edges from the hits/mentions stage tables
  * (the green kg_comention derivation) and replays the operator in DuckDB. */
object GraphQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Weighted PageRank (5 fixed iterations, d=0.85); the oracle replays
    // all 5 iterations as chained CTEs — two independent iterative
    // implementations must agree to the 1e-9 rounding contract.
    QuerySpec.of("q35_pagerank", Oracle(q35OracleSql)) { (s, dir, name) =>
      onCoMentionGraph(s, dir)(GraphOps.pageRank(_, Q35Iters) { pr =>
        stash(s, pr.orderBy("doc_id"), name)
      })
    },
    // Community detection: synchronous weighted label propagation, 4 fixed
    // rounds, ties to the smallest label. Pure integer arithmetic (count
    // weights), so the chained-CTE replay must agree EXACTLY, no rounding.
    QuerySpec.of("q40_label_prop", Oracle(q40OracleSql)) { (s, dir, name) =>
      onCoMentionGraph(s, dir)(GraphOps.labelPropagation(_, iters = 4) { lp =>
        stash(s, lp.orderBy("doc_id"), name)
      })
    },
    // Per-entity triangle counts + local clustering coefficient
    // (degree-ordered node-iterator — the oracle counts the same triangle
    // set with the naive id-ordered 3-way join, so the orientation
    // optimization is verified invisible).
    QuerySpec.of("q41_triangles", Oracle(q41OracleSql)) { (s, dir, name) =>
      onCoMentionGraph(s, dir)(GraphOps.triangleStats(_) { ts =>
        stash(s, ts.orderBy("doc_id"), name)
      })
    },
    // Adamic–Adar link prediction — the KG-completion step: non-adjacent
    // entity pairs scored by shared-neighbor rarity (Σ 1/ln(deg)).
    // minCommon=1 here (default 2 is the at-scale evidence bar): the
    // sparse sf graph yields a far richer verified surface at 1.
    QuerySpec.of("q49_adamic_adar", Oracle(q49OracleSql)) { (s, dir, name) =>
      onCoMentionGraph(s, dir)(GraphOps.adamicAdar(_, minCommon = 1) { out =>
        stash(s, out.orderBy("a", "b"), name)
      })
    },
    // k-core peeling (k=2, 6 fixed rounds) — dense-subgraph extraction
    // with a converged flag; the oracle replays every peel round.
    QuerySpec.of("q50_kcore", Oracle(q50OracleSql)) { (s, dir, name) =>
      onCoMentionGraph(s, dir)(GraphOps.kCore(_, k = 2, rounds = 6) { out =>
        stash(s, out.orderBy("doc_id"), name)
      })
    }
  )

  /** Run the pipeline, derive the top-1 co-mention edges and apply `op`.
    * Not `scoped`: the loan-pattern graph ops must stash INSIDE their `use`
    * so their iteration checkpoints are freed on return; the run's stages
    * and the eagerly checkpointed edges are freed once `op` has returned. */
  private def onCoMentionGraph(s: SparkSession, dir: String)(
      op: DataFrame => DataFrame): DataFrame = {
    CacheScope.using(new PersistStages) { stages =>
      val (corpus, turns) = kgInputs(s, dir)
      val r = KgPipeline.run(s, turns, corpus, bdict(s), 5, stages)
      op(stages.hold(KgPipeline.coMentionEdges(s, r.mentions, r.hits,
        topRank = 1))(CheckpointBlocks.release))
    }
  }

  /** q35 oracle: re-derive the co-mention edges from the hits/mentions
    * stage tables (verbatim the green kg_comention derivation), then replay
    * all PageRank iterations as chained CTEs — DuckDB runs the same fixed
    * recurrence with its own join/aggregation engine, and the two must
    * agree under the round(…, 9) contract. Generated so the iteration
    * count/damping stay single-sourced with the Spark query. */
  private val Q35Iters = 5

  private def q35OracleSql: String = {
    val d = GraphOps.Damping
    val iters = Q35Iters
    val head =
      s"""WITH l AS (
           SELECT DISTINCT split_part(m.subj, '#', 1) AS convId, h.docId
           FROM ${sp("hits5")} h JOIN ${sp("mentions")} m
             ON h.queryId = m.queryId
           WHERE h.rank <= 1),
         e AS (SELECT a.docId AS src, b.docId AS dst,
                 CAST(count(*) AS DOUBLE) AS w
               FROM l a JOIN l b ON a.convId = b.convId AND a.docId < b.docId
               GROUP BY a.docId, b.docId),
         ud AS (SELECT src, dst, w FROM e
                UNION ALL SELECT dst, src, w FROM e),
         nodes AS (SELECT DISTINCT src AS id FROM ud),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         tr AS (SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p
                FROM ud),
         r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    val iterations = (1 to iters).map { i =>
      s""",
         r$i AS (SELECT nodes.id,
             (1 - $d) / (SELECT n FROM nn) + $d * coalesce(c.s, 0) AS rank
           FROM nodes LEFT JOIN (
             SELECT tr.dst AS id, sum(tr.p * r.rank) AS s
             FROM tr JOIN r${i - 1} r ON tr.src = r.id
             GROUP BY tr.dst) c USING (id))"""
    }.mkString
    head + iterations +
      s"""
       SELECT id AS doc_id, round(rank, 9) AS pagerank
       FROM r$iters ORDER BY doc_id"""
  }

  /** Shared by q40/q41: the co-mention edge derivation from the hits/
    * mentions stage tables — the same green kg_comention/q35 recompute,
    * with the count weight kept BIGINT (q40's label sums are exact integer
    * arithmetic; q41 ignores the weight). */
  private def comentionEdgeCtes: String =
    s"""l AS (
         SELECT DISTINCT split_part(m.subj, '#', 1) AS convId, h.docId
         FROM ${sp("hits5")} h JOIN ${sp("mentions")} m
           ON h.queryId = m.queryId
         WHERE h.rank <= 1),
       e AS (SELECT a.docId AS src, b.docId AS dst,
               CAST(count(*) AS BIGINT) AS w
             FROM l a JOIN l b ON a.convId = b.convId AND a.docId < b.docId
             GROUP BY a.docId, b.docId)"""

  /** q40: semi-synchronous weighted label propagation replayed as chained
    * CTEs — one CTE per HALF-STEP (even-id nodes update, then odd-id
    * nodes), argmax of the BIGINT neighbor-label weight sum with ties to
    * the smallest label (row_number over the grouped sums), the other
    * parity carried over. Integer arithmetic end-to-end: the two engines
    * must agree exactly. */
  private def q40OracleSql: String = {
    val iters = 4
    // AS MATERIALIZED is load-bearing, as in q50: each half-step reads its
    // predecessor twice, so DuckDB's default CTE inlining expands the chain
    // 2^(2·iters) times (out of memory); materialization keeps it linear.
    val head =
      s"""WITH $comentionEdgeCtes,
         ud AS MATERIALIZED (SELECT src, dst, w FROM e
                UNION ALL SELECT dst, src, w FROM e),
         l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM ud)"""
    val halves = (1 to 2 * iters).map { i =>
      val p = (i + 1) % 2 // half-steps alternate parity 0, 1, 0, 1, ...
      s""",
         l$i AS MATERIALIZED (
           SELECT id, label FROM l${i - 1} WHERE id % 2 <> $p
           UNION ALL
           SELECT id, label FROM (
             SELECT ud.dst AS id, lb.label AS label,
               row_number() OVER (PARTITION BY ud.dst
                 ORDER BY sum(ud.w) DESC, lb.label ASC) AS rn
             FROM ud JOIN l${i - 1} lb ON ud.src = lb.id
             WHERE ud.dst % 2 = $p
             GROUP BY ud.dst, lb.label) WHERE rn = 1)"""
    }.mkString
    head + halves +
      s"""
       SELECT id AS doc_id, label AS community
       FROM l${2 * iters} ORDER BY doc_id"""
  }

  /** q41: per-node triangle counts via the naive id-ordered 3-way join
    * (a < b < c — algorithmically independent of the Spark side's
    * degree-ordered enumeration; the triangle SET is the same). */
  private def q41OracleSql: String =
    s"""WITH $comentionEdgeCtes,
       deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
           SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
         GROUP BY id),
       tri AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
               FROM e ab
               JOIN e bc ON ab.dst = bc.src
               JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst),
       cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
           SELECT a AS id FROM tri
           UNION ALL SELECT b AS id FROM tri
           UNION ALL SELECT c AS id FROM tri)
         GROUP BY id)
     SELECT deg.id AS doc_id, deg.degree AS degree,
       coalesce(cnt.triangles, CAST(0 AS BIGINT)) AS triangles,
       CASE WHEN deg.degree < 2 THEN CAST(0.0 AS DOUBLE)
         ELSE round(2.0 * coalesce(cnt.triangles, 0)
           / (deg.degree * (deg.degree - 1)), 9) END AS clustering
     FROM deg LEFT JOIN cnt USING (id) ORDER BY doc_id"""

  /** q50: the k-core peel replayed as chained CTEs (the q35/q40 pattern) —
    * one alive-set + degree CTE pair per round over the re-derived
    * co-mention edges; the Spark side's early convergence exit is
    * invisible (peeling is monotone: a converged round and every round
    * after it remove nothing, so round-R degrees equal the fixpoint's),
    * and `converged` = round R removed nothing, matching the operator. */
  private def q50OracleSql: String = {
    val k = 2; val rounds = 6
    // AS MATERIALIZED is load-bearing: each round references the previous
    // alive set three times, so DuckDB's default CTE inlining expands the
    // chain 3^rounds times (hangs); materialization caps it linear.
    val head =
      s"""WITH $comentionEdgeCtes,
       sym AS MATERIALIZED (SELECT src AS id, dst AS nbr FROM e
               UNION ALL SELECT dst AS id, src AS nbr FROM e),
       a0 AS MATERIALIZED (SELECT DISTINCT id FROM sym)"""
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"a${r - 1}"
      s"""d$r AS MATERIALIZED (SELECT a.id,
             CAST(coalesce(c.cnt, 0) AS BIGINT) AS core_deg
           FROM $prev a LEFT JOIN (
             SELECT s.id, count(*) AS cnt FROM sym s
             JOIN $prev x ON x.id = s.id
             JOIN $prev y ON y.id = s.nbr
             GROUP BY s.id) c ON c.id = a.id),
       r$r AS MATERIALIZED (SELECT id, core_deg FROM d$r
             WHERE core_deg < $k),
       a$r AS MATERIALIZED (SELECT id FROM d$r WHERE core_deg >= $k)"""
    }.mkString(",\n       ")
    val removedSel = (1 to rounds).map { r =>
      s"SELECT id, CAST($r AS BIGINT) AS removed_round, core_deg FROM r$r"
    }.mkString(" UNION ALL ")
    s"""$head,
       $roundCtes,
       cv AS (SELECT NOT EXISTS (SELECT 1 FROM r$rounds) AS converged),
       fin AS ($removedSel
         UNION ALL SELECT id, CAST(0 AS BIGINT) AS removed_round, core_deg
         FROM d$rounds WHERE core_deg >= $k)
       SELECT fin.id AS doc_id, fin.removed_round, fin.core_deg,
         fin.removed_round = 0 AS in_core, cv.converged
       FROM fin CROSS JOIN cv ORDER BY doc_id"""
  }

  /** q49: Adamic–Adar link prediction replayed in SQL over the re-derived
    * co-mention edges — symmetrized neighbor lists, wedge self-join keyed
    * by the shared vertex, exact BIGINT degrees, the existing-edge
    * anti-join, and the 1/ln sum under the round(…,6) contract. */
  private def q49OracleSql: String =
    s"""WITH $comentionEdgeCtes,
       sym AS (SELECT src AS c, dst AS n FROM e
               UNION ALL SELECT dst AS c, src AS n FROM e),
       deg AS (SELECT c, CAST(count(*) AS BIGINT) AS cdeg
               FROM sym GROUP BY c),
       wedge AS (SELECT x.n AS a, y.n AS b, d.cdeg
           FROM sym x JOIN sym y ON x.c = y.c AND x.n < y.n
           JOIN deg d ON d.c = x.c),
       sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
              round(sum(CAST(1 AS DOUBLE) / ln(CAST(cdeg AS DOUBLE))), 6)
                AS aa
            FROM wedge GROUP BY a, b)
       SELECT sc.a, sc.b, sc.n_common, sc.aa
       FROM sc LEFT JOIN e ON e.src = sc.a AND e.dst = sc.b
       WHERE e.src IS NULL AND sc.n_common >= 1
       ORDER BY sc.a, sc.b"""
}
