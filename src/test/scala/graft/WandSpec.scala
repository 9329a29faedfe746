package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analyse.DocAnalyser
import graft.data.SynthCorpus
import graft.link.{Cells, LinkKernel, Linker, Scoring}
import graft.model.{DocVec, IdfRow, LinkHit}

/** WAND-style admissible pruning (round 5): the scoring loop skips a
  * candidate doc when its Cauchy-Schwarz upper bound (Σ hash-matched
  * maxQtfidf² / minSumQQ, float mass inflated by the safety factor) cannot
  * beat the heap's quantized kth key. The skip is BIT-IDENTICAL by the
  * TopK.offer contract — these tests pin that against a brute-force
  * reference in the kernel and through the planned link, the admissibility
  * of the bound itself, and that pruning actually engages.
  */
class WandSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import GoldenFixtures.{dict => d0}

  private def cellInputs(n: Int) = {
    val interp = GoldenFixtures.interpreter
    val visitor = interp.newVisitor()
    val rows = SynthCorpus.corpus(d0.regions, n, 3, seed = 5)
    val docs = rows.flatMap { case (id, text) =>
      val a = interp.interpret(text, visitor)
      if (a == null || !a.division.hasCity || !a.division.hasDistrict) None
      else Some(DocAnalyser.analyse(id, "pk", a))
    }
    // Stamp non-trivial idfs so bounds/sims are spread out.
    val idf = docs.flatMap(d => d.texts).groupBy(identity)
      .map { case (t, xs) => t -> math.log(docs.size.toDouble / xs.size) }
    docs.foreach { d =>
      var i = 0
      while (i < d.nTerms) {
        d.idfs(i) = idf.getOrElse(d.texts(i), 1.0) + 0.1; i += 1
      }
    }
    docs
  }

  private def bits(h: LinkHit) = (h.queryId, h.docId, h.rank,
    java.lang.Double.doubleToLongBits(h.similarity))

  /** Brute-force reference: every (query, doc) pair of a district through
    * `Scoring.score` into a `TopK`; hits in query order. */
  private def reference(queries: Seq[DocVec], docs: Seq[DocVec],
      topN: Int): Vector[(Long, Long, Int, Long)] = {
    val byPk = docs.groupBy(_.partKey).map { case (pk, ds) =>
      pk -> ds.map(new Scoring.Side(_))
    }
    queries.toVector.flatMap { qd =>
      val q = new Scoring.QuerySide(qd)
      val heap = new Linker.TopK(topN)
      byPk.getOrElse(qd.partKey, Nil).foreach { d =>
        val s = Scoring.score(q, d)
        if (s > 0) heap.offer(d.docId, s)
      }
      heap.toHits(qd.docId).map(bits)
    }
  }

  /** Stamp rows from their district's idf table, as the link does in-cell. */
  private def stamped(rows: Seq[DocVec], idf: Seq[IdfRow]): Seq[DocVec] = {
    val maps = idf.groupBy(_.partKey).map { case (pk, rs) =>
      val m = new java.util.HashMap[String, java.lang.Double]()
      rs.foreach(r => m.put(r.termKey, r.idf))
      pk -> m
    }
    val empty = new java.util.HashMap[String, java.lang.Double]()
    rows.map(d => DocAnalyser.stampIdf(d, maps.getOrElse(d.partKey, empty)))
  }

  private def sorted(hits: Seq[(Long, Long, Int, Long)]) =
    hits.sortBy(x => (x._1, x._3))

  test("pruned scoring is bit-identical to exhaustive scoring, and engages") {
    val docs = cellInputs(1200)
    val dsides = docs.map(new Scoring.Side(_)).toArray
    val queries = docs.take(150)
    val skipped = new java.util.concurrent.atomic.LongAdder
    val kernel = new LinkKernel(queries.iterator, 5, wandSkipped = skipped)
    kernel.feed(dsides)
    val pruned = kernel.hits.map(bits).toVector
    assert(pruned.nonEmpty)
    assert(pruned == reference(queries, docs, 5), "WAND pruning changed results")
    assert(skipped.sum > 0, "pruning never engaged on a 150x1200 cell")
  }

  test("the bound is admissible on every scored pair") {
    val docs = cellInputs(300)
    val dsides = docs.map(new Scoring.Side(_)).toArray
    for (qd <- docs.take(60)) {
      val q = new Scoring.QuerySide(qd)
      // Loosest form of the same inequality chain: the full Σ maxSq over
      // ALL query terms is ≥ the hash-matched mass the kernel uses, so
      // score ≤ sqrt(Σ maxSq / minSumQQ) must hold for every pair.
      val fullMass = q.maxSq.sum
      if (q.minSumQQ > 0) {
        val bound = math.sqrt(fullMass / q.minSumQQ)
        dsides.foreach { d =>
          val s = Scoring.score(q, d)
          assert(s <= bound + 1e-12,
            s"score $s exceeds bound $bound (q=${q.docId}, d=${d.docId})")
        }
      }
    }
  }

  test("a hot district with few queries splits into cells, bit-identical to brute force") {
    val s = spark
    import s.implicits._
    // One district far above the cell valve, queried by a handful of rows:
    // the planner must split its docs (db > 1) however few its queries.
    val maxDocsPerCell = 256
    val docs = cellInputs(1500)
    val queries = docs.take(6)
    assert(docs.size > 2 * maxDocsPerCell, s"need a hot district, got ${docs.size} docs")
    val ds = s.createDataset(docs).repartition(4)
    val qs = s.createDataset(queries)
    val idf = Linker.buildIdf(s, ds).persist()
    try {
      val plan = Linker.planRoutes(Linker.countStats(s, qs, ds),
        s.sparkContext.defaultParallelism, maxDocsPerCell = maxDocsPerCell)
      assert(plan.shufflePks == Set("pk"), plan)
      assert(plan.knobs("pk").dBuckets >= Cells.valve(docs.size, maxDocsPerCell) &&
        plan.knobs("pk").dBuckets > 1, plan.knobs)
      val got = Linker.linkPlanned(s, plan, qs, ds, 5, idf).collect().map(bits).toSeq
      val idfRows = idf.collect().toSeq
      val exp = reference(stamped(queries, idfRows), stamped(docs, idfRows), 5)
      assert(got.nonEmpty && sorted(got) == sorted(exp))
    } finally { idf.unpersist(); () }
  }

  test("full-pipeline link is bit-identical to the brute-force reference") {
    val s = spark
    import s.implicits._
    val b = s.sparkContext.broadcast(d0)
    val corpus = SynthCorpus.corpusDS(s, b, 800L, 5, seed = 42)
    val turns = SynthCorpus.transcriptsDS(s, b, 200L, 5, seed = 7)
    val docs = Linker.buildDocs(s, corpus, b).persist()
    val idf = Linker.buildIdf(s, docs).persist()
    val mentions = graft.kg.KgPipeline.detectMentions(s, turns, b).persist()
    try {
      val got = Linker.linkTopKAuto(s, mentions.map(_.doc), docs, 5, idf)
        .collect().map(bits).toSeq
      val idfRows = idf.collect().toSeq
      val exp = reference(stamped(mentions.map(_.doc).collect().toSeq, idfRows),
        stamped(docs.collect().toSeq, idfRows), 5)
      assert(got.nonEmpty && sorted(got) == sorted(exp))
    } finally { mentions.unpersist(); idf.unpersist(); docs.unpersist(); () }
  }
}
