package graft.link

import graft.model.{DocVec, LinkHit}

import Linker.TopK

/** The link's one scoring kernel: one district's queries, their top-k heaps
  * and their WAND limits, fed an array of doc sides. The one link body,
  * `Cells.link`, feeds it a whole cell once (`Linker.scoreCell`), for the
  * batch link and `LinkIndex` alike. `TopK` is order-independent and the
  * skip is admissible, so the hits do not depend on how a district's docs
  * are split into cells.
  *
  * Per array:
  *  - postings (term hash → doc indices) are built once; each query only
  *    scores docs sharing ≥1 term text — exact (see `candidatesAndBounds`),
  *    and on address-shaped data it skips the large majority of pairs (the
  *    O(|q|·|d|) full scan was the kernel's pair bound; the candidate scan
  *    is output-sensitive);
  *  - DOC CHUNKS (sized to stay cache-resident) remain the outer loop with
  *    all queries inner — each doc byte is pulled from DRAM once per chunk
  *    instead of once per query. At 32 cores the naive query-outer order
  *    saturated memory bandwidth (~2x CPU inflation vs 8 cores on
  *    >10k-doc cells). Candidate iteration (BitSet.nextSetBit) preserves
  *    the exact ascending doc order of the full scan, so heap contents —
  *    already order-independent via pinned ties — are bit-identical.
  *
  * NOT thread-safe: one kernel per district per task. */
private[graft] final class LinkKernel(queries: Iterator[DocVec], topN: Int,
    wandSkipped: java.util.concurrent.atomic.LongAdder = null) {
  import LinkKernel._

  locally {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) { Linker.ScoringStageIds.add(tc.stageId()); () }
  }

  private val qsides = queries.map(new Scoring.QuerySide(_)).toArray
  private val heaps = Array.fill(qsides.length)(new TopK(topN))
  // Per-query skip limit on the RAW ub mass (avoids sqrt per doc):
  // skip ⟺ qz(bound) < kthKey ⟺ bound < (kthKey-0.5)/1e6
  //      ⟺ ub < ((kthKey-0.5)/1e6)² · minSumQQ / safety.
  // Recomputed only when the heap's kth key moves.
  private val limits = Array.fill(qsides.length)(Double.NegativeInfinity)
  private val lastKeys = Array.fill(qsides.length)(Long.MinValue)

  def feed(dsides: Array[Scoring.Side]): Unit = {
    if (qsides.isEmpty || dsides.isEmpty) return
    val postings = buildPostings(dsides)
    // Per-(query, doc) upper-bound mass Σ maxQtfidf_i² over hash-matched
    // terms, filled in the same postings pass that marks candidates. A
    // doc's bound is then sqrt(ub·safety / minSumQQ) ≥ its true sim
    // (QuerySide.maxSq doc), which the scoring loop tests against the
    // heap's quantized kth key — an admissible, bit-identical skip.
    val cands = new Array[java.util.BitSet](qsides.length)
    val ubs = new Array[Array[Float]](qsides.length)
    var i = 0
    while (i < qsides.length) {
      ubs(i) = new Array[Float](dsides.length)
      cands(i) = candidatesAndBounds(qsides(i), postings, dsides.length, ubs(i))
      i += 1
    }
    var c = 0
    while (c < dsides.length) {
      val end = math.min(c + DocChunk, dsides.length)
      var qi = 0
      while (qi < qsides.length) {
        val q = qsides(qi)
        val heap = heaps(qi)
        val ub = ubs(qi)
        var limit = limits(qi)
        var lastKey = lastKeys(qi)
        var di = cands(qi).nextSetBit(c)
        while (di >= 0 && di < end) {
          if (ub(di) < limit) {
            if (wandSkipped != null) wandSkipped.increment()
          } else {
            val s = Scoring.score(q, dsides(di))
            if (s > 0) {
              heap.offer(dsides(di).docId, s)
              val kk = heap.kthKey
              if (kk != lastKey) { lastKey = kk; limit = limitFor(q, kk) }
            }
          }
          di = cands(qi).nextSetBit(di + 1)
        }
        limits(qi) = limit
        lastKeys(qi) = lastKey
        qi += 1
      }
      c = end
    }
  }

  /** Each query's top-k over every doc fed so far. */
  def hits: Iterator[LinkHit] =
    qsides.indices.iterator.flatMap(i => heaps(i).toHits(qsides(i).docId))
}

private[link] object LinkKernel {
  private val DocChunk = 1024

  /** WAND safety factor: the per-doc bound mass accumulates in FLOAT (4
    * bytes × fed pairs, inside the task-memory valve); float summation of
    * ≤ ~64 non-negative terms has relative error ≤ 63·2^-24 ≈ 3.8e-6, so
    * inflating by 1e-4 provably restores admissibility. */
  private val WandSafety = 1.0001

  @inline private def limitFor(q: Scoring.QuerySide, kk: Long): Double =
    if (kk <= 0L || q.minSumQQ <= 0.0) Double.NegativeInfinity
    else {
      val t = (kk - 0.5) / 1e6
      t * t * q.minSumQQ / WandSafety
    }

  /** Minimal growable int array (postings lists; ArrayBuffer[Int] boxes). */
  private final class IntVec {
    var a = new Array[Int](4); var n = 0
    def add(v: Int): Unit = {
      if (n == a.length) {
        val b = new Array[Int](n * 2); System.arraycopy(a, 0, b, 0, n); a = b
      }
      a(n) = v; n += 1
    }
  }

  /** Inverted-index postings for the fed doc sides: term-text hash → doc
    * indices (ascending; duplicates possible when a doc repeats a hash —
    * the BitSet candidate mark dedups). */
  private def buildPostings(dsides: Array[Scoring.Side])
      : scala.collection.mutable.LongMap[IntVec] = {
    val postings = new scala.collection.mutable.LongMap[IntVec](dsides.length * 8)
    var di = 0
    while (di < dsides.length) {
      val hs = dsides(di).hashes
      var i = 0
      while (i < hs.length) {
        postings.getOrElseUpdate(hs(i).toLong, new IntVec).add(di)
        i += 1
      }
      di += 1
    }
    postings
  }

  /** Candidate docs for one query: union of its term hashes' postings, as a
    * BitSet over doc indices. EXACT, not approximate: a doc sharing NO term
    * text with the query scores 0 (every query-term lookup misses; the
    * RoadNum same-road fallback also requires equal road TEXT, which is
    * itself an R term on both sides — `DocAnalyser.analyse` only emits
    * non-empty texts) and similarity-0 hits are dropped by the kernel
    * contract (`Query.addSimiDoc` `Query.java:62`), so skipping non-candidates
    * cannot change the result. Hash collisions only ADD candidates (scoring
    * verifies text equality). Term vectors carry no Province/City/District
    * terms (partKey handles those), so no term is exempt.
    *
    * The WAND bound mass rides the same postings pass: `ub(d)` accumulates
    * Σ maxQtfidf_i² over the query terms whose hash posting contains d — a
    * superset of the true matched set (hash ⊇ text equality; duplicate
    * postings only inflate), so the derived bound stays admissible. The
    * RoadNum fuzzy fallback can match WITHOUT the N term's text (same-road,
    * different number), so the N term's mass is ALSO posted along the
    * query's road-text hash — every doc that can reach the fallback shares
    * that R text. */
  private def candidatesAndBounds(q: Scoring.QuerySide,
      postings: scala.collection.mutable.LongMap[IntVec],
      nDocs: Int, ub: Array[Float]): java.util.BitSet = {
    val cand = new java.util.BitSet(nDocs)
    val hs = q.hashes
    var i = 0
    while (i < hs.length) {
      val m = q.maxSq(i).toFloat
      val p = postings.getOrNull(hs(i).toLong)
      if (p != null) {
        var j = 0
        while (j < p.n) { cand.set(p.a(j)); ub(p.a(j)) += m; j += 1 }
      }
      if (q.types.charAt(i) == 'N' && q.road != null) {
        val pr = postings.getOrNull(q.road.hashCode.toLong)
        if (pr != null) {
          var j = 0
          while (j < pr.n) { ub(pr.a(j)) += m; j += 1 }
        }
      }
      i += 1
    }
    cand
  }
}
