package graft.kg

import scala.annotation.tailrec

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CacheScope, SessionRdd}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField,
  StructType}

import graft.ops.Par

/** Analytics over the MATERIALIZED knowledge graph (north rule: "graph
  * materialize" is a first-class output, so the engine should also be able
  * to consume its own graph): weighted PageRank over the co-mention entity
  * adjacency ([[KgPipeline.coMentionEdges]]) — the standard "which canonical
  * entities anchor this corpus" centrality that downstream KG consumers
  * (entity ranking, seed selection, graph pruning) run first.
  *
  * The reference has no graph analytics (its graph is the static region
  * tree); this operator is engine-native capability on top of the
  * reference-semantics KG tables.
  *
  * Every operator here is loan-style and sized: it runs in a
  * [[org.apache.spark.sql.graft.CacheScope]], the caller materializes the
  * result inside `use` (write, collect, stash), and the scope frees every
  * cache and checkpoint the operator made when `use` returns or throws. A
  * plain DataFrame return would strand the last iteration's blocks in the
  * block manager (the LinkIndex lesson). Each operator plans in its
  * caller's session and counts its graph once; its width is
  * `Par.partitionsFor` of that count, given explicitly: a `HashPartitioner`
  * for the pair-RDD loops, `repartition(n, keys)` for the DataFrame
  * operators. Spark does not coalesce either, and the planner reuses a
  * repartition whose keys a later join or aggregation needs.
  */
object GraphOps {

  /** PageRank's damping factor d, shared with the q35 DuckDB oracle. */
  val Damping = 0.85

  /** Weighted PageRank on an UNDIRECTED weighted edge list (src, dst,
    * weight) with src < dst (co-mention convention) — each edge transfers
    * mass both ways, proportional to its weight share of the endpoint's
    * total incident weight.
    *
    * rank_{t+1}(v) = (1-d)/N + d · Σ_{u~v} rank_t(u) · w(u,v)/outW(u), a
    * FIXED `iters` iterations (deterministic output, no convergence race).
    * Every node in an edge list has ≥1 incident edge, so there is no
    * dangling mass and total rank stays 1 exactly.
    *
    * Spark shape at 100 TB: pair RDDs under one `HashPartitioner` sized to
    * the graph. The symmetrized edge list is persisted and counted once;
    * each node's total incident weight is one `reduceByKey`, and one join
    * against it gives the transition table (src, (dst, p)), persisted. The
    * rank vector and the node set (the weight totals' keys) share that
    * partitioner, so an iteration is a narrow join of the transition table
    * with the ranks, ONE `reduceByKey` on dst with map-side combine, and a
    * narrow `leftOuterJoin` back onto the node set. The iterations stay lazy:
    * every rank vector is read once, by the next iteration, and the shuffle
    * outputs are reused by every action `use` runs, so the whole loop costs
    * the actions of `use` plus two counts. Only the output projection is a
    * DataFrame, and the loop generates no code: the ingest cycle's generated
    * classes stay inside Spark's codegen cache (`CodegenBudgetSpec`). A
    * hot entity (a power-law hub — the co-mention graph's defining skew)
    * is one spillable cogroup group in the rank join, and its inflow is
    * combined map-side before the dst shuffle.
    *
    * Output: (doc_id, pagerank) with pagerank rounded to 9 decimals — sums
    * of doubles are accumulation-order-dependent at ~1e-16, and the rounded
    * contract is what lets an independent engine (the DuckDB oracle's
    * chained-CTE recomputation) reproduce the values exactly, the same
    * quantization argument as `Linker.TopK`. */
  def pageRank[T](edges: DataFrame, iters: Int)(use: DataFrame => T): T =
    CacheScope { w =>
      val spark = edges.sparkSession
      val ud = w.persist(bothWays(edges)(_.doubleValue))
      val m = SessionRdd.action(spark)(ud.count())
      if (m == 0)
        // No edges (e.g. a scale where no rank-1 co-mentions exist): empty
        // result with the right schema — the oracle likewise returns 0 rows.
        use(edges.select(col("src").as("doc_id"),
          lit(0.0).as("pagerank")).where(lit(false)))
      else {
        // Size the iteration shuffles to the graph, not the corpus-width
        // session default (measured: ~6s/iteration on a 6.6k-node graph at
        // 64 partitions).
        val part = new HashPartitioner(Par.partitionsFor(spark, m))
        val outW = w.persist(ud.mapValues(_._2).reduceByKey(part, _ + _))
        val n = outW.count() // every node has an incident edge
        val trans = w.persist(ud.join(outW, part)
          .mapValues { case ((dst, x), out) => (dst, x / out) })
        val base = (1.0 - Damping) / n
        var ranks = outW.mapValues(_ => 1.0 / n)
        var it = 0
        while (it < iters) {
          val inflow = trans.join(ranks, part)
            .values.map { case ((dst, p), rank) => (dst, p * rank) }
            .reduceByKey(part, _ + _)
          ranks = outW.leftOuterJoin(inflow, part)
            .mapValues { case (_, in) => base + Damping * in.getOrElse(0.0) }
          it += 1
        }
        use(SessionRdd.frame(spark,
            ranks.map { case (id, rank) => InternalRow(id, rank) }, RankSchema)
          .select(col("id").as("doc_id"), round(col("rank"), 9).as("pagerank")))
      }
    }

  /** Both directions of every (src, dst, weight) edge: (from, (to,
    * weight)). The edge list often arrives with an expensive lineage (the
    * co-mention count over the full pipeline), so callers persist this and
    * read it once. It is read as it is, with no projection, so the class
    * that scans it is the one any other reader of the same frame compiles. */
  private def bothWays[W](edges: DataFrame)(
      weight: Number => W): RDD[(Long, (Long, W))] = {
    val Seq(si, di, wi) =
      Seq("src", "dst", "weight").map(edges.schema.fieldIndex)
    edges.rdd.flatMap { r =>
      def num(i: Int) = r.get(i).asInstanceOf[Number]
      val (a, b, x) = (num(si).longValue, num(di).longValue, weight(num(wi)))
      Iterator((a, (b, x)), (b, (a, x)))
    }
  }

  private val RankSchema = StructType(Seq(StructField("id", LongType, false),
    StructField("rank", DoubleType, false)))

  /** Weighted label propagation (community detection; Raghavan et al.
    * 2007) on the same UNDIRECTED weighted edge list as [[pageRank]]
    * (src < dst, integral co-mention count weights), in the DETERMINISTIC
    * SEMI-SYNCHRONOUS variant (Cordasco & Gargano 2010): fully synchronous
    * updates 2-cycle on any locally bipartite structure (a pair, a star —
    * i.e. almost every real graph), and the classic asynchronous variant
    * is update-order-dependent, which an engine that pins bit-identical
    * results under any partitioning cannot accept. Here each round runs
    * TWO half-steps — even-id nodes update against current labels, then
    * odd-id nodes against the refreshed ones — a deterministic 2-coloring
    * approximation that breaks the synchronous oscillation.
    *
    * label_0(v) = v; an updating node takes the label L maximizing
    * Σ_{u~v, label(u)=L} w(u,v), ties to the SMALLEST label, a FIXED
    * `iters` rounds. Weights are co-mention COUNTS, summed as BIGINT, so
    * every comparison is exact integer arithmetic — unlike PageRank there
    * is no floating-point accumulation and therefore no rounding contract:
    * any engine replaying the rule lands on identical labels (the DuckDB
    * oracle replays all half-steps as chained CTEs).
    *
    * Spark shape at 100 TB: the [[pageRank]] shape. The symmetrized edge
    * list is counted, then laid out and persisted under one
    * `HashPartitioner` sized to it, as (src, (dst, w)). The label table
    * shares that partitioner, so a half-step is a narrow join of the edges
    * with the labels, ONE `reduceByKey` on (dst, label) with map-side
    * combine, and ONE argmax `reduceByKey` on dst (ties to the smaller
    * label); the non-updating parity rides a narrow filter-union that keeps
    * the partitioner. A hub's incident edges are one cogroup group in the
    * label join, and its inflow is combined map-side before the dst
    * shuffles. Each half-step's labels are persisted, so the next one reads
    * them instead of recomputing the chain; the loop stays lazy and costs
    * the actions of `use` plus one count. */
  def labelPropagation[T](edges: DataFrame, iters: Int)
      (use: DataFrame => T): T =
    CacheScope { w =>
      val spark = edges.sparkSession
      val ud = w.persist(bothWays(edges)(_.longValue))
      val m = SessionRdd.action(spark)(ud.count())
      if (m == 0)
        use(edges.select(col("src").as("doc_id"),
          col("src").as("community")).where(lit(false)))
      else {
        val part = new HashPartitioner(Par.partitionsFor(spark, m))
        val adj = w.persist(ud.partitionBy(part))
        // Every node in an edge list has ≥1 incident edge, so the dst-side
        // aggregation reaches ALL parity-p nodes each half-step — no
        // dangling-node join — and label_0 is every key of adj.
        def halfStep(prev: RDD[(Long, Long)], p: Int): RDD[(Long, Long)] = {
          val upd = adj.join(prev, part).values
            .collect { case ((dst, x), label) if math.floorMod(dst, 2L) == p =>
              ((dst, label), x) }
            .reduceByKey(part, _ + _)
            .map { case ((dst, label), x) => (dst, (x, label)) }
            .reduceByKey(part, (a, b) =>
              if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)
            .mapValues(_._2)
          prev.filter(l => math.floorMod(l._1, 2L) != p).union(upd)
        }
        var labels = adj.mapPartitions(_.map(_._1).distinct.map(v => (v, v)),
          preservesPartitioning = true)
        for (_ <- 0 until iters; p <- 0 to 1)
          labels = w.persist(halfStep(labels, p))
        use(SessionRdd.frame(spark,
          labels.map { case (id, label) => InternalRow(id, label) },
          SessionRdd.longSchema("doc_id", "community")))
      }
    }

  /** Per-node triangle count + local clustering coefficient on the
    * canonical (src < dst) undirected edge list — the KG-quality signals a
    * graph consumer computes first (dense co-mention neighborhoods =
    * coherent entity communities; coefficient 0 = star hubs).
    *
    * Scale shape: the classic degree-ordered node-iterator (Schank &
    * Wagner 2005). Edges are ORIENTED from the (degree, id)-smaller
    * endpoint to the larger, so every wedge is enumerated at its
    * lowest-degree corner — Σ d_out² is O(m^1.5) on any graph, where the
    * naive id-ordered join degenerates to a hub's full neighborhood
    * squared (the co-mention graph is power-law; this is the difference
    * between a bounded wedge join and a quadratic hot key). Each triangle
    * is then closed by ONE equi-join against the oriented edge list and
    * counted once; per-node counts are a map-side-combinable aggregation
    * over the three corners. The enumeration strategy is invisible in the
    * output (the triangle SET is orientation-independent), which is what
    * lets the DuckDB oracle use the naive id-ordered 3-way join and still
    * have to agree row-for-row.
    *
    * The DAG references the edge table from MANY branches (degrees, the
    * two wedge sides, the closing join, the final hydration) — with a
    * pipeline-derived edge lineage each branch would re-execute the whole
    * co-mention aggregation (measured: ~30 re-executions, 230-480 s at
    * sf0.1). The shared tables (edges, degrees, oriented) are therefore
    * eagerly `localCheckpoint`ed — each is computed ONCE and every branch
    * reads its blocks. The oriented table is laid out by `lo` at the
    * graph's width before its checkpoint, so the wedge self-join on `lo`
    * reuses that layout on both sides instead of shuffling them.
    *
    * Output: (doc_id, degree, triangles, clustering) — clustering =
    * 2·T/(deg·(deg−1)) rounded to 9 (the one division; counts are exact
    * BIGINTs), 0 for degree-1 nodes. */
  def triangleStats[T](edges: DataFrame)(use: DataFrame => T): T =
    CacheScope { w =>
      val e = w.localCheckpoint(edges.select(col("src"), col("dst")))
      // cheap: counts the checkpointed blocks
      val width = Par.partitionsFor(edges.sparkSession, e.count())
      val deg = w.localCheckpoint(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg")))
      // Orient by (deg, id): lo = the smaller endpoint under that order.
      val withDeg = e
        .join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "sdeg"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "ddeg"), "dst")
      val oriented = w.localCheckpoint(withDeg.select(
        when(struct(col("sdeg"), col("src")) < struct(col("ddeg"), col("dst")),
          struct(col("src").as("lo"), col("dst").as("hi")))
          .otherwise(struct(col("dst").as("lo"), col("src").as("hi")))
          .as("o"))
        .select(col("o.lo").as("lo"), col("o.hi").as("hi"))
        .join(deg.withColumnRenamed("id", "hi").withColumnRenamed("deg", "hdeg"), "hi")
        .repartition(width, col("lo")))
      // Wedges at the lowest-ranked corner: out-neighbor pairs ordered by
      // (deg, id) so each triangle closes exactly once.
      val w1 = oriented.select(col("lo").as("a"), col("hi").as("b"),
        col("hdeg").as("bdeg"))
      val w2 = oriented.select(col("lo").as("a"), col("hi").as("c"),
        col("hdeg").as("cdeg"))
      val wedges = w1.join(w2, Seq("a"))
        .where(struct(col("bdeg"), col("b")) < struct(col("cdeg"), col("c")))
      val closer = oriented.select(col("lo").as("b"), col("hi").as("c"))
      val tris = wedges.join(closer, Seq("b", "c"))
        .select(col("a"), col("b"), col("c"))
      val corner = tris.select(col("a").as("id"))
        .union(tris.select(col("b").as("id")))
        .union(tris.select(col("c").as("id")))
        .groupBy("id").agg(count(lit(1)).as("triangles"))
      use(deg.join(corner, Seq("id"), "left")
        .select(col("id").as("doc_id"), col("deg").as("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          when(col("deg") < 2, lit(0.0))
            .otherwise(round(
              lit(2.0) * coalesce(col("triangles"), lit(0L)) /
                (col("deg") * (col("deg") - lit(1L))), 9))
            .as("clustering")))
    }

  /** k-core peeling (Seidman 1983) — dense-subgraph extraction over the
    * materialized graph: repeatedly remove nodes with fewer than `k` alive
    * neighbors; what survives is the k-core (every member has ≥ k
    * neighbors INSIDE the core). The standard noise filter before
    * community/centrality work on a co-occurrence graph.
    *
    * Runs a FIXED `rounds` peeling rounds (the q35/q40 fixed-iteration
    * contract — deterministic output, oracle-replayable as chained CTEs;
    * true k-core = the fixpoint, so the output carries `converged` = did
    * the last round remove nothing, making a non-converged run detectable
    * rather than silently wrong). Spark shape: the [[pageRank]] shape. The
    * symmetrized edges are counted, then laid out and persisted as
    * (id, nbr) under one `HashPartitioner` sized to them. A round is a
    * narrow join with the alive ids, one shuffle that keeps the edges whose
    * neighbor is alive, one degree `reduceByKey` (map-side combine), and a
    * narrow `leftOuterJoin` that stamps every alive id with its degree; the
    * stamped table is persisted, and one job per round checks it for
    * peeled nodes. Returns one row per input node: (doc_id, removed_round =
    * 1-based peel round or 0 if in-core, core_deg = alive-degree at exit,
    * in_core, converged). */
  def kCore[T](edges: DataFrame, k: Int, rounds: Int = 6)
      (use: DataFrame => T): T = {
    require(k >= 1 && rounds >= 1)
    CacheScope { w =>
      val spark = edges.sparkSession
      val Seq(si, di) = Seq("src", "dst").map(edges.schema.fieldIndex)
      val both = w.persist(edges.rdd.flatMap { r =>
        def id(i: Int) = r.get(i).asInstanceOf[Number].longValue
        Iterator((id(si), id(di)), (id(di), id(si)))
      })
      val part = new HashPartitioner(
        Par.partitionsFor(spark, SessionRdd.action(spark)(both.count())))
      val sym = w.persist(both.partitionBy(part))
      // (id, alive-degree) of every alive id.
      def stamp(alive: RDD[(Long, Unit)]): RDD[(Long, Long)] = {
        val deg = sym.join(alive, part).map { case (id, (nbr, _)) => (nbr, id) }
          .join(alive, part).map { case (_, (id, _)) => (id, 1L) }
          .reduceByKey(part, _ + _)
        w.persist(alive.leftOuterJoin(deg, part).mapValues(_._2.getOrElse(0L)))
      }
      // Round r: the last stamped table, the peeled (id, (round, degree))
      // rows so far, and whether the round removed nothing.
      @tailrec def peel(alive: RDD[(Long, Unit)], r: Int,
          removed: List[RDD[(Long, (Long, Long))]])
          : (RDD[(Long, Long)], List[RDD[(Long, (Long, Long))]], Boolean) = {
        val stamped = stamp(alive)
        val peeled = stamped.filter(_._2 < k)
        if (peeled.isEmpty()) (stamped, removed, true)
        else {
          val out = peeled.mapValues(d => (r.toLong, d)) :: removed
          if (r == rounds) (stamped, out, false)
          else peel(stamped.filter(_._2 >= k).mapValues(_ => ()), r + 1, out)
        }
      }
      val (last, removed, converged) = peel(sym.mapPartitions(
        _.map(_._1).distinct.map(v => (v, ())), preservesPartitioning = true),
        1, Nil)
      val survivors = last.filter(_._2 >= k).mapValues(d => (0L, d))
      val schema = StructType(
        SessionRdd.longSchema("doc_id", "removed_round", "core_deg").fields ++
          Seq("in_core", "converged").map(StructField(_, BooleanType, false)))
      use(SessionRdd.frame(spark, (survivors :: removed).reduce(_ union _)
          .map { case (id, (r, d)) => InternalRow(id, r, d, r == 0L, converged) },
        schema))
    }
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) — the KG-COMPLETION
    * step a construction pipeline runs over its own materialized graph:
    * score each NON-adjacent pair by Σ_{c ∈ N(a)∩N(b)} 1/ln(deg(c)) —
    * shared rare neighbors are strong evidence for a missing edge, shared
    * hubs are weak evidence — and emit candidates with ≥ `minCommon`
    * common neighbors. Input is an undirected edge list (src, dst),
    * DISTINCT with src < dst (the [[KgPipeline.coMentionEdges]]
    * convention); duplicate or bidirectional rows would inflate degrees.
    *
    * Shape: one neighbor-list self-join keyed by the SHARED vertex c (each
    * c contributes its neighbor pairs — the wedge enumeration), one
    * (a, b) hash agg, one anti-join against the existing edges. Wedge cost
    * is Σ_c deg(c)², which a power-law hub dominates: `maxHubDeg` drops
    * hubs from wedge GENERATION entirely (the df-cap pattern — conservative
    * by construction, and cheap to accept since a hub's 1/ln(deg) evidence
    * is near-zero anyway); the cap must be mirrored by any oracle. Degrees
    * are exact BIGINTs; the 1/ln terms and their sum sit under the
    * round(…,6) contract. The declared q49 entry (`q49_adamic_adar`) runs
    * with `maxHubDeg` = ∞ and its DuckDB oracle replays every wedge, so a
    * hub-capped entry changes the declared output. The neighbor table is
    * laid out by `c` at the graph's width before its checkpoint, so the
    * wedge self-join on `c` reuses that layout on both sides. */
  def adamicAdar[T](edges: DataFrame, minCommon: Int = 2,
      maxHubDeg: Long = Long.MaxValue)(use: DataFrame => T): T =
    CacheScope { w =>
      val e = w.localCheckpoint(edges.select(col("src"), col("dst")))
      // cheap: counts the checkpointed blocks
      val width = Par.partitionsFor(edges.sparkSession, 2 * e.count())
      val sym = e.select(col("src").as("c"), col("dst").as("n"))
        .union(e.select(col("dst").as("c"), col("src").as("n")))
      val deg = sym.groupBy("c").agg(count(lit(1)).as("cdeg"))
      val nbr = w.localCheckpoint(sym
        .join(deg.where(col("cdeg") <= maxHubDeg), "c")
        .repartition(width, col("c")))
      val pairs = nbr.select(col("c"), col("n").as("a"), col("cdeg"))
        .join(nbr.select(col("c"), col("n").as("b")), "c")
        .where(col("a") < col("b"))
      val scored = pairs.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_common"),
          round(sum(lit(1.0) / log(col("cdeg").cast("double"))), 6).as("aa"))
      // Existing edges (src < dst convention) are not predictions.
      val out = scored
        .join(e.select(col("src").as("a"), col("dst").as("b")),
          Seq("a", "b"), "left_anti")
        .where(col("n_common") >= minCommon)
      use(out)
    }
}
