package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.data.SynthCorpus
import graft.link.{Linker, Scoring}

/** WAND-style admissible pruning (round 5): the scoring loop skips a
  * candidate doc when its Cauchy-Schwarz upper bound (Σ hash-matched
  * maxQtfidf² / minSumQQ, float mass inflated by the safety factor) cannot
  * beat the heap's quantized kth key. The skip is BIT-IDENTICAL by the
  * TopK.offer contract — these tests pin that, the admissibility of the
  * bound itself, and that pruning actually engages.
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
      else Some(graft.analyse.DocAnalyser.analyse(id, "pk", a))
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

  test("pruned scoring is bit-identical to exhaustive scoring, and engages") {
    val docs = cellInputs(1200)
    val dsides = docs.map(new Scoring.Side(_)).toArray
    val queries = docs.take(150)
    val skipped = new java.util.concurrent.atomic.LongAdder
    def run(wand: Boolean) =
      Linker.scoreCellBlocked(queries.iterator, dsides, 5, wand = wand,
          wandSkipped = if (wand) skipped else null)
        .map(h => (h.queryId, h.docId, h.rank,
          java.lang.Double.doubleToLongBits(h.similarity)))
        .toVector
    val pruned = run(wand = true)
    val exhaustive = run(wand = false)
    assert(pruned == exhaustive, "WAND pruning changed results")
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

  test("broadcast route is bit-identical with pruning on vs off") {
    val s = spark
    import s.implicits._
    val docs = cellInputs(1500)
    val queries = docs.take(120).toArray
    val ds = s.createDataset(docs).repartition(4)
    val idf = Linker.buildIdf(s, ds).persist()
    def run(wand: Boolean) =
      Linker.linkTopKBroadcast(s, queries, ds, 5, idf, wand = wand)
        .collect()
        .map(h => (h.queryId, h.docId, h.rank,
          java.lang.Double.doubleToLongBits(h.similarity)))
        .sortBy(x => (x._1, x._3))
    val on = run(wand = true)
    val off = run(wand = false)
    assert(on.nonEmpty && on.sameElements(off))
    idf.unpersist(); ()
  }

  test("full-pipeline link is bit-identical with pruning on vs off") {
    val s = spark
    import s.implicits._
    val b = s.sparkContext.broadcast(d0)
    val corpus = SynthCorpus.corpusDS(s, b, 800L, 5, seed = 42)
    val turns = SynthCorpus.transcriptsDS(s, b, 200L, 5, seed = 7)
    val docs = Linker.buildDocs(s, corpus, b).persist()
    val idf = Linker.buildIdf(s, docs).persist()
    val mentions = graft.kg.KgPipeline.detectMentions(s, turns, b).persist()
    try {
      def hits(wand: Boolean) =
        Linker.linkTopKAuto(s, mentions.map(_.doc), docs, 5, idf, wand = wand)
          .collect()
          .map(h => (h.queryId, h.docId, h.rank,
            java.lang.Double.doubleToLongBits(h.similarity)))
          .sortBy(x => (x._1, x._3))
      val on = hits(wand = true)
      val off = hits(wand = false)
      assert(on.nonEmpty && on.sameElements(off))
    } finally { mentions.unpersist(); idf.unpersist(); docs.unpersist(); () }
  }
}
