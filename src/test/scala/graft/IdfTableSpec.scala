package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analyse.Segmenter
import graft.data.SynthCorpus
import graft.link.Linker
import graft.model.DocVec

/** `Linker.buildIdf` against a naive per-district recompute on the driver,
  * bit for bit: df counts every (doc, term key) row, the RoadNum term keys
  * on `"<road>-<translateRoadNum(text)>"`, numeric and ASCII-letter keys
  * get the fixed idf 2.0, and every other key `max(0, ln(nDocs/(df+1)))` —
  * so a one-doc district's terms clamp to 0. */
class IdfTableSpec extends AnyFunSuite {
  import GoldenFixtures.{dict => d0}

  private lazy val spark = SparkTestBase.spark

  private def doc(id: Long, pk: String, types: String, texts: String*)(
      road: String = null): DocVec =
    DocVec(id, pk, types, texts.toArray, new Array[Double](texts.length),
      null, null, road, null, 0)

  /** Hand-made docs for the rules the synthetic corpus seldom hits. */
  private val crafted = Seq(
    // RoadNum composite keys (one with no road) next to numeric, ASCII and
    // mixed text terms.
    doc(-1L, "rules", "RNX", "建设路", "12号", "12")(road = "建设路"),
    doc(-2L, "rules", "NX", "12号", "abc")(),
    doc(-3L, "rules", "RNXX", "建设路", "7", "A1", "大厦")(road = "建设路"),
    doc(-4L, "rules", "XXX", "abc", "007", "z")(),
    doc(-5L, "rules", "")(), // counts towards nDocs, adds no term
    // A one-doc district: every non-fixed term clamps to idf 0.
    doc(-6L, "solo", "XXXR", "科技园", "99", "Road", "人民路")(road = "人民路"))

  private def naiveKey(d: DocVec, i: Int): String =
    if (d.tTypes.charAt(i) == 'N')
      Option(d.road).getOrElse("") + "-" + Segmenter.translateRoadNum(d.texts(i))
    else d.texts(i)

  private val Fixed = Seq("^[0-9]+$".r, "^[A-Za-z]+$".r)

  /** (partKey, termKey, nDocs, df) per district term, from collected docs. */
  private def naiveCounts(docs: Seq[DocVec]): Seq[(String, String, Long, Long)] =
    docs.groupBy(_.partKey).toSeq.flatMap { case (pk, ds) =>
      ds.flatMap(d => d.tTypes.indices.map(naiveKey(d, _)))
        .groupBy(identity).map { case (t, ts) => (pk, t, ds.size.toLong, ts.size.toLong) }
    }

  private def naiveIdf(t: String, nDocs: Long, df: Long): Double =
    if (Fixed.exists(_.findFirstIn(t).isDefined)) 2.0
    else math.max(0.0, StrictMath.log(nDocs.toDouble / (df + 1)))

  test("buildIdf equals a naive per-district recompute bit for bit") {
    val s = spark
    import s.implicits._
    val bdict = s.sparkContext.broadcast(d0)
    val corpus = SynthCorpus.corpus(d0.regions, 300, 4, seed = 41)
    val docs = Linker.buildDocs(s, s.createDataset(corpus).repartition(5), bdict)
      .union(s.createDataset(crafted).repartition(3))
    assert(docs.rdd.getNumPartitions > 1)

    val counts = naiveCounts(docs.collect().toSeq)
    val want = counts.map { case (pk, t, n, df) =>
      (pk, t, df, java.lang.Double.doubleToLongBits(naiveIdf(t, n, df)))
    }.sorted
    val got = Linker.buildIdf(s, docs).collect().toSeq.map(r =>
      (r.partKey, r.termKey, r.df, java.lang.Double.doubleToLongBits(r.idf))).sorted
    assert(got == want)

    // The rules the fixture exists for did run.
    val idf = got.map(r => (r._1, r._2) -> java.lang.Double.longBitsToDouble(r._4)).toMap
    assert(idf(("rules", "建设路-12")) > 0.0) // composite key, df 1 of 5 docs
    assert(idf.contains(("rules", "-12")))    // RoadNum without a road
    assert(idf(("rules", "12")) == 2.0 && idf(("rules", "abc")) == 2.0)
    assert(idf(("rules", "A1")) != 2.0)       // mixed: not a fixed-idf key
    assert(idf(("solo", "科技园")) == 0.0 && idf(("solo", "人民路")) == 0.0)
    assert(idf(("solo", "99")) == 2.0 && idf(("solo", "Road")) == 2.0)
    assert(counts.exists { case (pk, _, n, _) => pk == "rules" && n == 5 })

    // The naive rule is Spark SQL's: `rlike` and `ln` give the same bits.
    val sql = counts.toDF("pk", "t", "n", "df").selectExpr("pk", "t",
      """CASE WHEN t rlike '^[0-9]+$' OR t rlike '^[A-Za-z]+$' THEN 2.0D
        |ELSE greatest(0.0D, ln(CAST(n AS DOUBLE) / (df + 1))) END AS idf"""
        .stripMargin)
      .as[(String, String, Double)].collect().toSeq
      .map { case (pk, t, v) => (pk, t, java.lang.Double.doubleToLongBits(v)) }
    assert(sql.sorted == want.map(r => (r._1, r._2, r._4)).sorted)
  }
}
