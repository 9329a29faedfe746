package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.data.SynthCorpus
import graft.link.{Dict, Linker}
import graft.model.RegionTypes

/** Conformance for the closed canonicalization loop (round 5; reference
  * `ExtractTown.main` → `AddressPersister.importRegionTowns`
  * (`persist/AddressPersister.java:168-208`) → next
  * `TermIndexBuilder.indexRegions` (`index/TermIndexBuilder.java:33-74`)):
  * a first interpret pass leaves novel 镇/村 surface forms unresolved, the
  * dictionary is rebuilt with the discovered rows, and a second pass
  * resolves the SAME mentions to the new Town/Village region ids, with the
  * town landing as a typed term in the doc vector (so the scoring-side town
  * boost applies).
  */
class DictLoopSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  import GoldenFixtures.{dict => d0}

  private lazy val fixtures = {
    import s.implicits._
    val b = s.sparkContext.broadcast(d0)
    val corpus = SynthCorpus.corpusDS(s, b, 400L, 6, seed = 42).cache()
    val cand = Linker.townCandidates(s, corpus, b).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val d2 = Dict.withDiscoveredTowns(d0, cand)
    val b2 = s.sparkContext.broadcast(d2)
    val baseIds = d0.regions.all.iterator.map(_.id).toSet
    val newRegions = d2.regions.all.filter(r => !baseIds.contains(r.id))
    (b, corpus, cand, b2, d2, newRegions)
  }

  test("discovery finds novel towns and the merge assigns reference-scheme ids") {
    val (_, _, cand, _, d2, newRegions) = fixtures
    assert(cand.nonEmpty, "SynthCorpus embeds novel towns; discovery must find them")
    assert(newRegions.nonEmpty)
    newRegions.foreach { r =>
      // initializeRegionId scheme: id in the district's *10000 block, past
      // any existing child; parent must be the carrying district.
      assert(r.id >= r.parentId * 10000L && r.id < (r.parentId + 1) * 10000L)
      assert(d0.regions.get(r.parentId) != null)
      assert(d0.regions.get(r.id) == null, s"id collision with base dict: ${r.id}")
      val last = r.name.charAt(r.name.length - 1)
      if (last == '村') assert(r.regionType == RegionTypes.Village)
      else assert(Set('镇', '乡').contains(last) && r.regionType == RegionTypes.Town)
    }
    // Deterministic: same discovery input → identical merged tree.
    val (_, _, cand2, _, _, _) = fixtures
    val again = Dict.withDiscoveredTowns(d0, scala.util.Random.shuffle(cand2))
    assert(again.regions.all.map(r => (r.id, r.parentId, r.name, r.regionType)) ==
      d2.regions.all.map(r => (r.id, r.parentId, r.name, r.regionType)))
  }

  test("iterated growth: discoverTowns and withDiscoveredTowns assign ids in lockstep") {
    val (_, corpus, cand, _, _, _) = fixtures
    // Grow with only ONE candidate per district: the rest stay unresolved,
    // so a second discovery pass is non-empty and every partially-grown
    // district exercises the skip-past-existing-children base
    // (Dict.townIdBase) — the regime where the two assigners would have
    // silently diverged before they shared one scheme.
    val partial = cand.groupBy(_._1).values.map(_.minBy(_._2)).toSeq
    val dP = Dict.withDiscoveredTowns(d0, partial)
    val bP = s.sparkContext.broadcast(dP)
    val nt2 = Linker.discoverTowns(s, corpus, bP).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(nt2.nonEmpty, "partial growth must leave undiscovered towns")
    val cand2 = Linker.townCandidates(s, corpus, bP).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val dQ = Dict.withDiscoveredTowns(dP, cand2)
    val idsP = dP.regions.all.map(_.id).toSet
    val newQ = dQ.regions.all.filterNot(r => idsP.contains(r.id))
      .map(r => (r.parentId, r.name, r.id, r.regionType)).toSet
    assert(nt2 == newQ,
      s"id assigners diverged on a grown dict:\n  discoverTowns-only: ${nt2 -- newQ}\n  merge-only: ${newQ -- nt2}")
    // And no second-pass id collides with anything already in the tree.
    nt2.foreach { case (_, _, id, _) =>
      assert(!idsP.contains(id), s"second-pass id collision: $id")
    }
  }

  test("merge sorts names by code point (the Spark/DuckDB collation), not UTF-16 units") {
    // U+20000 (CJK Ext-B, a surrogate pair starting 0xD840) vs U+FA00 (CJK
    // Compatibility Ideograph): Scala's default String ordering (UTF-16
    // code units) puts the surrogate FIRST; code-point order — what Spark's
    // UTF8String byte compare and DuckDB's binary collation use, i.e. what
    // discoverTowns' orderBy(name) and the kg_towns oracle rank by — puts
    // it LAST. The merge must hand out ids in the latter order or the two
    // assigners silently swap ids for such names.
    val did = d0.regions.all.find(_.regionType == RegionTypes.District).get.id
    val extB = new String(Character.toChars(0x20000)) + "村"
    val compat = "\uFA00" + "村"
    assert(Seq(extB, compat).sorted == Seq(extB, compat),
      "precondition: UTF-16 order differs from code-point order here")
    val d2 = Dict.withDiscoveredTowns(d0, Seq((did, extB), (did, compat)))
    val newRs = d2.regions.all.filter(r => d0.regions.get(r.id) == null)
      .sortBy(_.id)
    assert(newRs.map(_.name) == Seq(compat, extB),
      s"ids must follow code-point order: ${newRs.map(r => (r.id, r.name))}")
  }

  test("second interpret pass resolves discovered towns as Town/Village regions") {
    val (b, corpus, _, b2, _, newRegions) = fixtures
    val newIds = newRegions.map(_.id).toSet
    val first = Linker.interpretCorpus(s, corpus, b).collect()
    val second = Linker.interpretCorpus(s, corpus, b2).collect()
    assert(!first.exists(a => newIds.contains(a.townId) || newIds.contains(a.villageId)),
      "base dict must not resolve novel towns")
    val resolved = second.filter(a =>
      newIds.contains(a.townId) || newIds.contains(a.villageId))
    assert(resolved.nonEmpty, "grown dict must resolve discovered towns")
    // The resolved id belongs to the row's own district block.
    resolved.foreach { a =>
      if (newIds.contains(a.townId)) assert(a.townId / 10000L == a.did)
      if (newIds.contains(a.villageId)) assert(a.villageId / 10000L == a.did)
    }
    // Both discovered types occur in the corpus (镇 + 村 forms).
    assert(resolved.exists(a => newIds.contains(a.townId)))
    assert(resolved.exists(a => newIds.contains(a.villageId)))
  }

  test("discovered towns become typed terms in second-pass doc vectors") {
    val (b, corpus, _, b2, _, newRegions) = fixtures
    val byId = newRegions.iterator.map(r => r.id -> r).toMap
    val newIds = byId.keySet
    val resolved = Linker.interpretCorpus(s, corpus, b2)
      .filter(a => newIds.contains(a.townId)).collect()
    assert(resolved.nonEmpty)
    val wantIds = resolved.map(_.id).toSet
    val docs2 = Linker.buildDocs(s, corpus, b2).collect()
      .filter(d => wantIds.contains(d.docId))
    assert(docs2.nonEmpty)
    val byDoc = resolved.iterator.map(a => a.id -> a).toMap
    docs2.foreach { d =>
      val townName = byId(byDoc(d.docId).townId).name
      // DocAnalyser emits division towns as 'T'-typed terms
      // (SimilarityComputer.java:110-159 term assembly) — the type the
      // scoring boost table keys on, so the town boost is active.
      assert(d.town == townName)
      val ti = d.tTypes.indexOf('T')
      assert(ti >= 0 && d.texts(ti) == townName,
        s"doc ${d.docId} missing Town term $townName: ${d.tTypes}/${d.texts.mkString(",")}")
    }
    // First-pass docs for the same rows had NO Town term (the novel 镇 was
    // just unparsed text).
    val docs1 = Linker.buildDocs(s, corpus, b).collect()
      .filter(d => wantIds.contains(d.docId))
    docs1.foreach(d => assert(d.town == null || !newIds.exists(id => byId(id).name == d.town)))
  }
}
