package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analyse.DocAnalyser
import graft.data.SynthCorpus
import graft.link.{Linker, Scoring}
import graft.link.Scoring.{QuerySide, Side}

/** Per-term scoring explain (the reference's `explain=true` query mode —
  * `SimilarityComputer.java:500-541`, `MatchedTerm.java:3-8`): golden boost
  * values on a reference-style pair, and distributed `explainHits` rows
  * matching the kernel bit-for-bit. */
class ExplainSpec extends AnyFunSuite {
  import GoldenFixtures.{dict => d0}
  private lazy val spark = SparkTestBase.spark

  private def docOf(id: Long, text: String): graft.model.DocVec = {
    val interp = d0.interpreter
    val visitor = interp.newVisitor()
    val addr = interp.interpret(text, visitor)
    assert(addr != null && addr.division.hasCity && addr.division.hasDistrict,
      s"fixture failed to interpret: $text")
    // Empty idf map stamps MISSING_IDF=4 everywhere — boosts are idf-free.
    DocAnalyser.stampIdf(DocAnalyser.analyse(id, interp.partKey(addr), addr),
      new java.util.HashMap[String, java.lang.Double]())
  }

  test("golden: road match boost, fuzzy road-num boost, text coord/density") {
    val doc = docOf(1L, "山东青岛市南区宁夏路118号海泰大厦")
    val qry = docOf(100L, "青岛市南区宁夏路120号海泰大厦")
    val (sim, matched) = Scoring.scoreExplain(new QuerySide(qry), new Side(doc))
    assert(java.lang.Double.doubleToLongBits(sim) ==
      java.lang.Double.doubleToLongBits(Scoring.score(qry, doc)),
      "explain similarity must equal the kernel's")
    val byText = matched.map(m => m.termText -> m).toMap

    // Road matched on both sides, no town/village on the query:
    // boost = BOOST_L = 2 (`getBoostValue` Road arm, `:236-241`).
    assert(byText("宁夏路").boost == Scoring.BOOST_L, byText("宁夏路"))
    assert(byText("宁夏路").density == -1.0 && byText("宁夏路").coord == -1.0)

    // RoadNum fuzzy fallback (118 vs 120, same road): doc-side boost =
    // (1/sqrt(sqrt(|118-120|+1))) * BOOST_L (`:246-252`).
    val expectedNum = (1.0 / math.sqrt(math.sqrt(2.0 + 1.0))) * Scoring.BOOST_L
    assert(math.abs(byText("118号").boost - expectedNum) < 1e-12,
      s"${byText("118号")} vs $expectedNum")

    // Text terms (海/泰/大/厦 all match contiguously): boost M=1,
    // coord = sqrt(4/4)*0.5+0.5 = 1, density = 1.
    val x = matched.filter(_.termType == "X")
    assert(x.nonEmpty)
    x.foreach { m =>
      assert(m.boost == Scoring.BOOST_M)
      assert(m.coord == 1.0 && m.density == 1.0, m)
    }
  }

  test("explainHits rows are bit-identical to pairwise scoreExplain") {
    val s = spark
    import s.implicits._
    val corpusRows = SynthCorpus.corpus(GoldenFixtures.dict.regions, 300, 4, seed = 23)
    val bdict = s.sparkContext.broadcast(d0)
    val docs0 = Linker.buildDocs(s, s.createDataset(corpusRows).repartition(5), bdict)
    val idf = Linker.buildIdf(s, docs0)
    val docs = Linker.attachIdf(s, docs0, idf).persist()
    val hits = Linker.linkTopKAuto(s, docs, docs, 3, idf)
    val ex = Linker.explainHits(s, docs, docs, hits).collect()
    assert(ex.nonEmpty)
    val byId = docs.collect().map(d => d.docId -> d).toMap

    ex.foreach { e =>
      val (sim, terms) = Scoring.scoreExplain(
        new QuerySide(byId(e.queryId)), new Side(byId(e.docId)))
      assert(java.lang.Double.doubleToLongBits(sim) ==
        java.lang.Double.doubleToLongBits(e.similarity),
        s"similarity drift for ${e.queryId}->${e.docId}")
      assert(terms == e.matched, s"matched terms differ for ${e.queryId}->${e.docId}")
      e.matched.foreach { m =>
        if (m.termType == "X") assert(m.coord > 0 && m.density > 0)
        else assert(m.coord == -1.0 && m.density == -1.0)
      }
    }
    // Self-link hits exist and match every term of the doc.
    val self = ex.filter(e => e.queryId == e.docId)
    assert(self.nonEmpty)
    self.foreach(e => assert(e.matched.length == byId(e.queryId).nTerms))
    docs.unpersist()
  }
}
