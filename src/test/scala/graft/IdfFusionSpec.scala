package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analyse.DocAnalyser
import graft.link.{DocBlob, IdfBlob, Scoring}
import graft.model.{DocVec, IdfRow}

/** Pure-JVM unit gates for the in-cell idf seams: the IdfBlob wire codec,
  * the idf-less DocBlob codec, and the in-cell `Scoring.stampSideIdfs`
  * contract — pinned against `DocAnalyser.stampIdf`, which stays the
  * cold-path semantics owner. Spark-level knob bit-identity lives in
  * KgPipelineSpec; these isolate the pieces so a codec or keying bug points
  * at itself. */
class IdfFusionSpec extends AnyFunSuite {

  private def doc(id: Long, pk: String): DocVec = DocVec(
    docId = id, partKey = pk,
    tTypes = "TVRNXX",
    texts = Array("青山镇", "赵家村", "建设路", "12号", "科技园", "大厦"),
    idfs = new Array[Double](6),
    town = "青山镇", village = "赵家村", road = "建设路", roadNum = "12号",
    roadNumValue = 12)

  private def idfMapOf(rows: Seq[IdfRow]): java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double]()
    rows.foreach(r => m.put(r.termKey, r.idf))
    m
  }

  test("IdfBlob round-trips rows per partKey across chunk boundaries") {
    val rows = (0 until 23).map(i => IdfRow(s"pk${i % 3}", s"term$i", 1, i * 0.25))
    val blobs = IdfBlob.packGroups(rows.iterator, maxPerBlob = 4).toSeq
    // Chunking: no blob exceeds the cap, and every partKey appears.
    assert(blobs.map(_._1).toSet == Set("pk0", "pk1", "pk2"))
    val merged = new java.util.HashMap[String, java.lang.Double]()
    blobs.foreach { case (_, bytes) => IdfBlob.unpackInto(bytes, merged) }
    rows.foreach(r => assert(merged.get(r.termKey) == r.idf,
      s"termKey ${r.termKey}"))
    assert(merged.size == rows.size)
  }

  test("DocBlob round-trips every field except idfs (zeroed)") {
    val d = doc(7L, "110000-110100-110101").copy(
      idfs = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    val blobs = DocBlob.packGroups(Iterator(d), 16).toSeq
    val buf = scala.collection.mutable.ArrayBuffer.empty[Scoring.Side]
    blobs.foreach { case (_, bytes) => DocBlob.unpackSides(bytes, buf) }
    assert(buf.size == 1)
    val s = buf.head
    assert(s.docId == 7L && s.types == d.tTypes)
    assert((0 until s.n).map(s.textAt) == d.texts.toSeq)
    assert(s.town == d.town && s.village == d.village &&
      s.road == d.road && s.roadNum == d.roadNum &&
      s.roadNumValue == d.roadNumValue)
    assert(s.idfs.forall(_ == 0.0)) // idfs intentionally not on the wire
  }

  test("stampSideIdfs matches DocAnalyser.stampIdf, including the RoadNum composite key and MISSING_IDF") {
    val d = doc(1L, "pk")
    // Keys the map resolves: plain texts for T/V/R/X, the composite
    // "<roadText>-<num>" for N; one X term ("大厦") deliberately missing.
    val rows = Seq(
      IdfRow("pk", "青山镇", 1, 1.5),
      IdfRow("pk", "赵家村", 1, 2.5),
      IdfRow("pk", "建设路", 1, 0.75),
      IdfRow("pk", "建设路-12", 1, 3.25), // N composite (road + translated num)
      IdfRow("pk", "科技园", 1, 1.125))
    val m = idfMapOf(rows)

    val expected = DocAnalyser.stampIdf(d, m).idfs.toSeq
    val side = new Scoring.Side(d)
    Scoring.stampSideIdfs(side, m)
    assert(side.idfs.toSeq == expected)
    assert(side.idfs(3) == 3.25, "N term must resolve via the composite key")
    assert(side.idfs(5) == DocAnalyser.MissingIdf, "missing key -> MISSING_IDF")

    // Null road: the composite key degrades to "-<num>", same as stampIdf.
    val dNoRoad = d.copy(road = null)
    val m2 = idfMapOf(rows :+ IdfRow("pk", "-12", 1, 9.0))
    val exp2 = DocAnalyser.stampIdf(dNoRoad, m2).idfs.toSeq
    val side2 = new Scoring.Side(dNoRoad)
    Scoring.stampSideIdfs(side2, m2)
    assert(side2.idfs.toSeq == exp2)
    assert(side2.idfs(3) == 9.0)
  }
}
