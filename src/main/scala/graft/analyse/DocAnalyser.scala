package graft.analyse

import scala.collection.mutable.ArrayBuffer

import graft.interpret.MutableAddress
import graft.model.DocVec

/** Document (term-vector) assembly — `SimilarityComputer.analyse`
  * (`SimilarityComputer.java:110-159`): ordered terms Town, Village, Road,
  * RoadNum (with Road backref + numeric value), then Text tokens deduped
  * against all existing term texts (`addTerm` `:692-701`). Docs leave here
  * unstamped: idfs come from the per-district table (`Linker.buildIdf`) and
  * are stamped with [[stampIdf]] inside the link's cells — unlike the
  * reference's query-time lazy memoization, a semantics-preserving move since
  * IDF depends only on the partition's doc set (SURVEY.md §3.3).
  */
object DocAnalyser {
  val MissingIdf = 4.0 // `SimilarityComputer.java:77`

  def analyse(docId: Long, partKey: String, addr: MutableAddress,
      segmenter: Segmentation = Segmenter): DocVec = {
    val d = addr.division
    val types = new java.lang.StringBuilder(8)
    val texts = new ArrayBuffer[String](8)
    var town: String = null
    var village: String = null
    var road: String = null
    var roadNum: String = null
    var roadNumValue = 0

    if (d.hasTown) {
      town = d.town.name
      types.append('T'); texts += town
    }
    if (d.hasVillage) {
      village = d.village.name
      types.append('V'); texts += village
    }
    if (addr.road.nonEmpty) {
      road = addr.road
      types.append('R'); texts += road
    }
    if (addr.roadNum.nonEmpty) {
      roadNum = addr.roadNum
      roadNumValue = Segmenter.translateRoadNum(addr.roadNum)
      types.append('N'); texts += roadNum
    }
    if (addr.text.nonEmpty) {
      segmenter.segment(addr.text).foreach { token =>
        if (token != null && token.nonEmpty && !texts.contains(token)) {
          types.append('X'); texts += token
        }
      }
    }
    DocVec(docId, partKey, types.toString, texts.toArray,
      new Array[Double](texts.length), town, village, road, roadNum, roadNumValue)
  }

  /** IDF-table key of one term of type `t`: its text, except RoadNum's
    * composite `"<roadText>-<num>"` (`generateIDFCacheEntryKey`
    * `SimilarityComputer.java:180-187`). The one key rule of the idf table
    * (`Linker.buildIdf`) and of every idf stamp. */
  def termKey(t: Char, text: String, road: String): String =
    if (t == 'N')
      (if (road == null) "" else road) + "-" + Segmenter.translateRoadNum(text)
    else text

  /** The idf-table key of a doc's i-th term ([[termKey]] over the flat
    * DocVec layout). */
  def idfKeyAt(doc: DocVec, i: Int): String =
    termKey(doc.termType(i), doc.texts(i), doc.road)

  /** Return a copy with idf stamped per term from the partition IDF map;
    * missing keys get `MissingIdf` (`SimilarityComputer.java:146-154`). */
  def stampIdf(doc: DocVec,
      idfMap: java.util.HashMap[String, java.lang.Double]): DocVec = {
    val n = doc.nTerms
    val idfs = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = idfMap.get(idfKeyAt(doc, i))
      idfs(i) = if (v == null) MissingIdf else v.doubleValue()
      i += 1
    }
    doc.copy(idfs = idfs)
  }
}
