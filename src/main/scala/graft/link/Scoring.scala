package graft.link

import graft.model.DocVec

/** The custom weighted TF-IDF cosine kernel — exact port of
  * `SimilarityComputer.computeDocSimilarity` (`SimilarityComputer.java:456-550`)
  * and `getBoostValue` (`:198-255`).
  *
  * Representation: both sides are compiled to primitive arrays (term-type
  * chars, int text-hashes sorted for binary search, idf doubles). Per-pair
  * work is then sequential array scans + int compares instead of per-term
  * HashMap chases — the kernel is memory-bound at high core counts, and the
  * compact layout keeps the per-doc working set to a few hundred contiguous
  * bytes. Accumulation runs in the query's term order — float determinism is
  * pinned (SURVEY.md §7.4-3). String equality is verified on every hash hit,
  * so results are exactly the reference semantics.
  */
object Scoring {
  // `SimilarityComputer.java:71-77`
  val BOOST_M = 1.0
  val BOOST_L = 2.0
  val BOOST_XL = 4.0
  val BOOST_S = 0.5
  val BOOST_XS = 0.25

  /** Type-overridden idf (`similarity/Term.getIdf` `Term.java:52-67`):
    * Province/City/District→0, Street→1, others as stored. */
  private def effIdfC(t: Char, idf: Double): Double = t match {
    case '1' | '2' | '3' => 0.0
    case '4'             => 1.0
    case _               => idf
  }

  /** Compiled term-vector side. `lookupLast` mirrors `Document.getTerm`
    * insertion-order overwrite (`Document.java:111-117`: last term with a
    * given text wins); `lookupFirstX` mirrors the coord/density pre-pass
    * first-match scan over Text terms (`SimilarityComputer.java:466-479`). */
  class Side(
      val docId: Long,
      val types: String,
      // Term texts packed into ONE contiguous char array + offsets: equality
      // checks during scoring scan local memory instead of chasing scattered
      // String objects (the kernel is memory-bound at high core counts).
      val packed: Array[Char],
      val offs: Array[Int],
      val idfs: Array[Double],
      val town: String,
      val village: String,
      val road: String,
      val roadNum: String,
      val roadNumValue: Int) {
    def this(doc: DocVec) = this(doc.docId, doc.tTypes,
      Side.packChars(doc.texts), Side.packOffs(doc.texts), doc.idfs,
      doc.town, doc.village, doc.road, doc.roadNum, doc.roadNumValue)
    val n: Int = types.length
    val hashes: Array[Int] = Array.tabulate(n)(i => hashRange(packed, offs(i), offs(i + 1)))
    private val sortedHash: Array[Int] = new Array[Int](n)
    private val sortedIdx: Array[Int] = new Array[Int](n)
    var roadNumIdx: Int = types.indexOf('N')

    {
      // insertion-sort by (hash, idx) — n is small (~10-40 terms)
      var i = 0
      while (i < n) { sortedHash(i) = hashes(i); sortedIdx(i) = i; i += 1 }
      i = 1
      while (i < n) {
        val h = sortedHash(i); val ix = sortedIdx(i)
        var j = i - 1
        while (j >= 0 && (sortedHash(j) > h)) {
          sortedHash(j + 1) = sortedHash(j); sortedIdx(j + 1) = sortedIdx(j); j -= 1
        }
        sortedHash(j + 1) = h; sortedIdx(j + 1) = ix
        i += 1
      }
    }

    @inline private def eqRange(ix: Int, o: Side, oIx: Int): Boolean = {
      val a = offs(ix); val b = offs(ix + 1)
      val oa = o.offs(oIx); val ob = o.offs(oIx + 1)
      if (b - a != ob - oa) return false
      var i = a; var j = oa
      while (i < b) {
        if (packed(i) != o.packed(j)) return false
        i += 1; j += 1
      }
      true
    }

    private def lowerBound(h: Int): Int = {
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sortedHash(mid) < h) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** Index of the LAST term (in doc order) whose text equals the other
      * side's term `oIx`, or -1. */
    def lookupLast(h: Int, o: Side, oIx: Int): Int = {
      var p = lowerBound(h)
      var best = -1
      while (p < n && sortedHash(p) == h) {
        val ix = sortedIdx(p)
        if (ix > best && eqRange(ix, o, oIx)) best = ix
        p += 1
      }
      best
    }

    /** Term text at index i, reconstructed from the packed layout
      * (explain path only — the kernel never materializes Strings). */
    def textAt(i: Int): String = new String(packed, offs(i), offs(i + 1) - offs(i))

    /** Index of the FIRST Text-type term with equal text, or -1. */
    def lookupFirstX(h: Int, o: Side, oIx: Int): Int = {
      var p = lowerBound(h)
      var best = Int.MaxValue
      while (p < n && sortedHash(p) == h) {
        val ix = sortedIdx(p)
        if (types.charAt(ix) == 'X' && ix < best && eqRange(ix, o, oIx)) best = ix
        p += 1
      }
      if (best == Int.MaxValue) -1 else best
    }
  }

  object Side {
    def packOffs(texts: Array[String]): Array[Int] = {
      val offs = new Array[Int](texts.length + 1)
      var total = 0
      var i = 0
      while (i < texts.length) { offs(i) = total; total += texts(i).length; i += 1 }
      offs(texts.length) = total
      offs
    }
    def packChars(texts: Array[String]): Array[Char] = {
      var total = 0
      var i = 0
      while (i < texts.length) { total += texts(i).length; i += 1 }
      val arr = new Array[Char](total)
      total = 0
      i = 0
      while (i < texts.length) {
        texts(i).getChars(0, texts(i).length, arr, total)
        total += texts(i).length
        i += 1
      }
      arr
    }
  }

  /** String.hashCode over a char range (same formula, no allocation). */
  @inline private def hashRange(a: Array[Char], from: Int, until: Int): Int = {
    var h = 0
    var i = from
    while (i < until) { h = 31 * h + a(i); i += 1 }
    h
  }

  /** Query-side wrapper with reusable scratch (NOT thread-safe; one per query
    * per task, reused across the candidate docs). */
  final class QuerySide(doc: DocVec) extends Side(doc) {
    val effIdfs: Array[Double] = Array.tabulate(n)(i => effIdfC(types.charAt(i), idfs(i)))
    /** matched doc-term index per query term for the current candidate. */
    val dIdx: Array[Int] = new Array[Int](n)
    var qTextTermCount: Int = 0
    locally {
      var i = 0
      while (i < n) { if (types.charAt(i) == 'X') qTextTermCount += 1; i += 1 }
    }

    /** WAND-style admissible bound ingredients (round 5). For any candidate
      * doc d: sumQD = Σ_matched qtfidf_i·dtfidf_i ≤
      * sqrt(Σ_matched qtfidf_i²)·sqrt(sumDD) (Cauchy-Schwarz; unmatched
      * terms have dtfidf = 0, so sumDD is exactly the matched mass), hence
      * sim ≤ sqrt(Σ_matched maxQtfidf_i² / minSumQQ): qboost depends on the
      * doc only through a few presence flags, so each term's qtfidf is
      * bracketed by this query's OWN [min,max] boost per type (cases below
      * mirror `boostC(forDoc = false)` exactly — a type whose doc-dependent
      * branch is disabled by this query's fields collapses to a point).
      * coord/density need no bounding: they scale dtfidf and cancel inside
      * Cauchy-Schwarz. */
    val maxSq: Array[Double] = new Array[Double](n)
    var minSumQQ: Double = 0.0
    locally {
      var i = 0
      while (i < n) {
        val t = types.charAt(i)
        val idf = effIdfs(i)
        var lo = BOOST_M; var hi = BOOST_M
        t match {
          case '1' | '2' | '3' => lo = BOOST_XL; hi = BOOST_XL
          case '4'             => lo = BOOST_XS; hi = BOOST_XS
          case 'X'             => ()
          case 'T' =>
            if (town == null) { lo = BOOST_XS; hi = BOOST_XS }
            else { lo = BOOST_XS; hi = BOOST_L }
          case 'V' =>
            if (village == null || town == null) { lo = BOOST_XS; hi = BOOST_XS }
            else { lo = BOOST_XS; hi = BOOST_XL }
          case 'R' =>
            if ((town == null || village == null) && road != null) {
              lo = BOOST_M; hi = BOOST_L
            }
          case 'N' =>
            if ((town == null || village == null) && roadNumValue > 0 &&
                road != null) { lo = BOOST_M; hi = 3.0 }
          case _ => ()
        }
        maxSq(i) = (idf * hi) * (idf * hi)
        minSumQQ += (idf * lo) * (idf * lo)
        i += 1
      }
    }
  }

  /** `SimilarityComputer.getBoostValue` `:198-255` on compiled sides.
    * When forDoc is false, dType is ignored (query term type drives). */
  private def boostC(forDoc: Boolean, q: Side, qType: Char, d: Side,
      dType: Char): Double = {
    val t = if (forDoc) dType else qType
    val qd = q; val dd = d
    t match {
      case '1' | '2' | '3' => BOOST_XL
      case '4'             => BOOST_XS
      case 'X'             => BOOST_M
      case 'T' =>
        if (qd.town != null && dd.town != null) BOOST_L else BOOST_XS
      case 'V' =>
        var value = BOOST_XS
        if (qd.village != null && dd.village != null && qd.town != null) {
          if (qd.town == dd.town) {
            if (qd.village == dd.village) value = BOOST_XL else value = BOOST_L
          } else if (dd.town != null) {
            value = if (!forDoc) BOOST_L else BOOST_S
          }
        }
        value
      case 'R' =>
        var value = BOOST_M
        if (qd.town == null || qd.village == null) {
          if (qd.road != null && dd.road != null) value = BOOST_L
        }
        value
      case 'N' =>
        var value = BOOST_M
        if (qd.town == null || qd.village == null) {
          if (qd.roadNumValue > 0 && dd.roadNumValue > 0 &&
              qd.road != null && qd.road == dd.road) {
            if (qd.roadNumValue == dd.roadNumValue) value = 3
            else value =
              if (forDoc)
                (1.0 / math.sqrt(math.sqrt(
                  math.abs(qd.roadNumValue - dd.roadNumValue) + 1.0))) * BOOST_L
              else 3
          }
        }
        value
      case _ => BOOST_M
    }
  }

  /** Weighted cosine similarity (`computeDocSimilarity` `:456-550`).
    * Returns 0 when either norm is 0. */
  def score(q: QuerySide, d: Side): Double = accumulate(q, d, null)

  /** Both passes of `computeDocSimilarity`. A single lookup pass fills
    * q.dIdx; the pre-pass and the accumulation both read it. When
    * `matched` is given, it collects one row per resolved query term
    * (explain); the similarity is the same either way. */
  private def accumulate(q: QuerySide, d: Side,
      matched: scala.collection.mutable.Builder[MatchedTermRow, Seq[MatchedTermRow]])
      : Double = {
    val n = q.n
    // Pass 1: resolve each query term against the doc; coord/density stats.
    var dTextTermMatchCount = 0
    var matchStart = -1
    var matchEnd = -1
    var i = 0
    while (i < n) {
      val qt = q.types.charAt(i)
      if (qt == 'X') {
        // Pre-pass semantics: FIRST Text term with equal text
        // (`SimilarityComputer.java:466-479`).
        val xi = d.lookupFirstX(q.hashes(i), q, i)
        if (xi >= 0) {
          dTextTermMatchCount += 1
          if (matchStart == -1) { matchStart = xi; matchEnd = xi }
          else if (xi > matchEnd) matchEnd = xi
          else if (xi < matchStart) matchStart = xi
        }
      }
      // Main-loop lookup semantics: LAST term with equal text
      // (`Document.getTerm` via buildMapCache overwrite).
      var di = d.lookupLast(q.hashes(i), q, i)
      if (di < 0 && qt == 'N') {
        // RoadNum fuzzy fallback: same road, different number (`:513-517`);
        // the query RoadNum's backref is its doc's road (`Term.java:73-78`).
        val qref = q.road
        if (d.roadNum != null && d.road != null && qref != null &&
            d.road == qref)
          di = d.roadNumIdx
      }
      q.dIdx(i) = di
      i += 1
    }
    var textTermDensity = 1.0
    var textTermCoord = 1.0
    if (q.qTextTermCount > 0)
      textTermCoord =
        math.sqrt(dTextTermMatchCount * 1.0 / q.qTextTermCount) * 0.5 + 0.5
    if (q.qTextTermCount >= 2 && dTextTermMatchCount >= 2)
      textTermDensity =
        math.sqrt(dTextTermMatchCount * 1.0 / (matchEnd - matchStart + 1)) * 0.5 + 0.5

    // Pass 2: accumulate over query terms in order (`:507-541`).
    var sumQD = 0.0; var sumQQ = 0.0; var sumDD = 0.0
    i = 0
    while (i < n) {
      val qboost = boostC(forDoc = false, q, q.types.charAt(i), d, ' ')
      val qtfidf = q.effIdfs(i) * qboost
      val di = q.dIdx(i)
      val dt = if (di >= 0) d.types.charAt(di) else ' '
      val dboost =
        if (di < 0) 0.0 else boostC(forDoc = true, q, q.types.charAt(i), d, dt)
      val isX = dt == 'X'
      val coord = if (isX) textTermCoord else 1.0
      val density = if (isX) textTermDensity else 1.0
      val dIdf = if (di >= 0) effIdfC(dt, d.idfs(di)) else q.effIdfs(i)
      val dtfidf = dIdf * dboost * coord * density
      if (matched != null && di >= 0)
        matched += MatchedTermRow(d.textAt(di), dt.toString, dboost, dtfidf,
          if (isX) density else -1.0, if (isX) coord else -1.0)
      sumQQ += qtfidf * qtfidf
      sumQD += qtfidf * dtfidf
      sumDD += dtfidf * dtfidf
      i += 1
    }
    if (sumDD == 0 || sumQQ == 0) 0.0
    else sumQD / math.sqrt(sumQQ * sumDD)
  }

  /** Convenience pairwise API (tests / oracle). */
  def score(qdoc: DocVec, ddoc: DocVec): Double =
    score(new QuerySide(qdoc), new Side(ddoc))

  /** Stamp per-term idfs onto an unpacked doc side from a partition idf map
    * — the doc-side idf stamp of every link route (shuffle cells,
    * broadcast, `LinkIndex.link`).
    * EXACTLY `DocAnalyser.stampIdf` on the compiled layout:
    * key = term text, except RoadNum's composite `"<roadText>-<num>"`
    * (`generateIDFCacheEntryKey` `SimilarityComputer.java:180-187`); misses
    * get MISSING_IDF. Safe after Side construction: nothing in Side derives
    * from idfs (hashes/sort are text-only); only `score` reads them. */
  def stampSideIdfs(s: Side,
      m: java.util.HashMap[String, java.lang.Double]): Unit = {
    var i = 0
    while (i < s.n) {
      val v = m.get(graft.analyse.DocAnalyser.termKey(s.types.charAt(i),
        s.textAt(i), s.road))
      s.idfs(i) = if (v == null) graft.analyse.DocAnalyser.MissingIdf
                  else v.doubleValue()
      i += 1
    }
  }

  /** One matched doc term of an explained hit — the reference's
    * `MatchedTerm` (`similarity/MatchedTerm.java:3-8`): the doc term the
    * query term resolved to, its boost and final tfidf, and density/coord
    * (-1 for non-Text terms, `SimilarityComputer.java:525-535`). */
  final case class MatchedTermRow(termText: String, termType: String,
      boost: Double, tfidf: Double, density: Double, coord: Double)

  /** Scoring with per-term explain output (`computeDocSimilarity`'s
    * `explain=true` path, `SimilarityComputer.java:500-541`): same
    * accumulation as `score` — identical similarity bit-for-bit — plus one
    * MatchedTermRow per query term that resolved to a doc term. Cold path:
    * runs only over the FINAL top-k pairs, never inside the link kernel. */
  def scoreExplain(q: QuerySide, d: Side): (Double, Seq[MatchedTermRow]) = {
    val matched = Seq.newBuilder[MatchedTermRow]
    val sim = accumulate(q, d, matched)
    (sim, matched.result())
  }
}
