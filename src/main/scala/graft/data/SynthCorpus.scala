package graft.data

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.dict.Regions
import graft.model.{RegionTypes, Turn}

/** Deterministic synthetic data: an address corpus composed from real region
  * names (so interpretation behavior is realistic) and a transcript table of
  * exactly the `input_hint` shape, a fraction of whose turns embed one address
  * mention at the tail of prose text.
  *
  * Everything is seeded — same (seed, size) always produces identical rows, on
  * the driver or inside executors. No external data (BASELINE.json rule).
  */
object SynthCorpus {

  private val RoadCores = Vector(
    "振兴", "幸福", "文化", "建设", "和平", "朝阳", "光明", "长江", "黄河",
    "金水", "学府", "科技", "创业", "迎宾", "青年", "花园", "望江", "临湖")
  private val RoadSuffix = Vector("路", "街", "大道", "大街")
  private val Estates = Vector(
    "阳光花园", "翡翠城", "丽景小区", "金色家园", "湖畔人家", "书香门第",
    "锦绣华庭", "凤凰城", "碧水湾", "天悦府")
  // Novel town/village surface forms (deliberately NOT in the dictionary) so
  // the canonicalization stage (town/village discovery, SURVEY.md A19/A20)
  // has new entities to discover.
  private val NovelTowns = Vector("沐风", "云杪", "竹坞", "砚溪", "茶畈", "鹿鸣")
  private val NovelVillages = Vector("青石", "枫林", "杏花", "槐杨", "苇荡")
  private val ProseCjk = Vector(
    "请把包裹送到", "收货信息如下", "我的新地址是", "下单时填写的是",
    "麻烦更新配送地址", "工单里登记的地址为", "客户反馈地址应为",
    "核对后的准确地址", "快递面单上写的是", "记录一下这个地址")
  private val ProseAscii = Vector(
    "order confirmed, ship to: ", "pls deliver to ", "updated addr: ",
    "customer says the address is ")
  private val Tools = Vector(null, null, null, "geo_lookup", "order_db", "crm")
  private val Roles = Vector("user", "assistant", "tool")

  /** Districts eligible as address anchors: District/CityLevelDistrict rows
    * whose province+city chain resolves. Stable order (by id). */
  def anchorDistricts(regions: Regions): IndexedSeq[(Long, Long, Long)] = {
    regions.all
      .filter(r => r.regionType == RegionTypes.District ||
        r.regionType == RegionTypes.CityLevelDistrict)
      .sortBy(_.id)
      .flatMap { d =>
        val city = regions.get(d.parentId)
        if (city == null) None
        else {
          val prov = regions.get(city.parentId)
          if (prov == null || prov.regionType == RegionTypes.Country) {
            // city-level district directly under a province
            if (city.regionType == RegionTypes.Province ||
                city.regionType == RegionTypes.ProvinceLevelCity1)
              Some((city.id, d.id, d.id))
            else None
          } else Some((prov.id, city.id, d.id))
        }
      }
  }

  /** One synthetic address anchored at district index `di` of the sampled
    * district pool. Composition follows the reference's documented input
    * format (`misc/ImportAddress.java:26-32`): 省市区 + 街道/镇? + 路+号 +
    * 小区 + 楼栋 + optional noise. */
  def address(regions: Regions, anchor: (Long, Long, Long), rnd: Random): String = {
    val (pid, cid, did) = anchor
    val prov = regions.get(pid)
    val city = regions.get(cid)
    val dist = regions.get(did)
    val sb = new StringBuilder
    if (rnd.nextInt(10) > 0) sb.append(prov.name) // sometimes drop province
    sb.append(city.name)
    if (dist.id != city.id) sb.append(dist.name)
    val streets = regions.children(did)
    if (streets.nonEmpty && rnd.nextInt(10) < 7)
      sb.append(streets(rnd.nextInt(streets.length)).name)
    if (rnd.nextInt(10) < 2) {
      // Novel (undictionaried) town/village mention → discovery candidates.
      sb.append(NovelTowns(rnd.nextInt(NovelTowns.length))).append("镇")
      if (rnd.nextInt(2) == 0)
        sb.append(NovelVillages(rnd.nextInt(NovelVillages.length))).append("村")
    }
    sb.append(RoadCores(rnd.nextInt(RoadCores.length)))
      .append(RoadSuffix(rnd.nextInt(RoadSuffix.length)))
      .append(rnd.nextInt(200) + 1).append("号")
    if (rnd.nextInt(10) < 6) sb.append(Estates(rnd.nextInt(Estates.length)))
    if (rnd.nextInt(10) < 5)
      sb.append(rnd.nextInt(30) + 1).append("号楼")
        .append(rnd.nextInt(6) + 1).append("单元")
        .append(rnd.nextInt(900) + 100)
    if (rnd.nextInt(20) == 0) sb.append("（备注勿扔快递柜)")
    sb.toString
  }

  /** Historical address corpus: (id, rawText), ~`n` rows spread over
    * `nDistricts` sampled districts with a power-law-ish skew (first district
    * gets ~30% of rows — mirrors the big-city skew the engine must handle).
    * The anchor-district pool is derived from `nDistricts` alone so a corpus
    * and a transcript table with the same `nDistricts` share districts (the
    * linking join is non-empty by construction). */
  def corpus(regions: Regions, n: Int, nDistricts: Int, seed: Long): IndexedSeq[(Long, String)] = {
    val anchors = pickAnchors(regions, nDistricts)
    (0L until n.toLong).map(i => corpusRow(regions, anchors, i, seed))
  }

  def pickAnchors(regions: Regions, nDistricts: Int): IndexedSeq[(Long, Long, Long)] = {
    val all = anchorDistricts(regions)
    val rnd = new Random(9000L + nDistricts)
    IndexedSeq.fill(nDistricts)(all(rnd.nextInt(all.length))).distinct
  }

  /** Skewed district pick: index 0 with p=0.3, else uniform. */
  private def skewedIndex(rnd: Random, n: Int): Int =
    if (n > 1 && rnd.nextInt(10) < 3) 0 else rnd.nextInt(n)

  /** A labeled (corpusText, queryText, gridId) pair for the accuracy
    * regression harness (shape of the reference's WL data,
    * `misc/RegressionTestImportWLData.java:99-123`): both texts share the
    * same delivery cell (district + road ⇒ gridId); the query is a
    * perturbed rendering (province sometimes dropped, road number shifted,
    * prose noise) so top-1 linking accuracy vs gridId is measurable as in
    * `misc/RegressionTestRunTest.java:137-184`. */
  final case class LabeledPair(id: Long, corpusText: String, queryText: String,
      gridId: String)

  def labeledPair(regions: Regions, anchors: IndexedSeq[(Long, Long, Long)],
      i: Long, seed: Long): LabeledPair = {
    val rnd = new Random(mix(seed, i))
    val (pid, cid, did) = anchors(skewedIndex(rnd, anchors.length))
    val prov = regions.get(pid); val city = regions.get(cid); val dist = regions.get(did)
    val roadCore = RoadCores(rnd.nextInt(RoadCores.length))
    val roadSuf = RoadSuffix(rnd.nextInt(RoadSuffix.length))
    val num = rnd.nextInt(200) + 1
    val estate = Estates(rnd.nextInt(Estates.length))
    val streets = regions.children(did)
    val street = if (streets.nonEmpty) streets(rnd.nextInt(streets.length)).name else ""
    def render(dropProvince: Boolean, numShift: Int, noise: Boolean): String = {
      val sb = new StringBuilder
      if (!dropProvince) sb.append(prov.name)
      sb.append(city.name)
      if (dist.id != city.id) sb.append(dist.name)
      sb.append(street)
      sb.append(roadCore).append(roadSuf).append(num + numShift).append("号")
      sb.append(estate)
      if (noise) sb.append(rnd.nextInt(20) + 1).append("号楼")
      sb.toString
    }
    val corpusText = render(dropProvince = false, 0, noise = false)
    val queryText = render(dropProvince = rnd.nextInt(3) == 0,
      numShift = if (rnd.nextInt(4) == 0) rnd.nextInt(5) - 2 else 0,
      noise = rnd.nextInt(2) == 0)
    LabeledPair(i, corpusText, queryText, s"$did:$roadCore$roadSuf")
  }

  /** Mix for per-row/per-conv seeding — generation is deterministic under ANY
    * partitioning (each row derives its own Random). */
  private def mix(seed: Long, i: Long): Long = {
    var z = seed ^ (i * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One corpus row, independently seeded (distributed-generation variant). */
  def corpusRow(regions: Regions, anchors: IndexedSeq[(Long, Long, Long)],
      i: Long, seed: Long): (Long, String) = {
    val rnd = new Random(mix(seed, i))
    val a = anchors(skewedIndex(rnd, anchors.length))
    (i, address(regions, a, rnd))
  }

  /** All turns of one conversation, independently seeded. */
  def convTurns(regions: Regions, anchors: IndexedSeq[(Long, Long, Long)],
      c: Long, seed: Long): Seq[Turn] = {
    val rnd = new Random(mix(seed, c))
    val base = 1700000000000L // fixed epoch base (UTC)
    val convId = f"conv-$c%06d"
    val nTurns = 3 + rnd.nextInt(6)
    (0 until nTurns).map { t =>
      val role = Roles(rnd.nextInt(Roles.length))
      val tool = if (role == "tool") Tools(3 + rnd.nextInt(3)) else null
      val hasMention = rnd.nextInt(3) == 0
      val text =
        if (hasMention) {
          val a = anchors(skewedIndex(rnd, anchors.length))
          val prose =
            if (rnd.nextInt(4) == 0) ProseAscii(rnd.nextInt(ProseAscii.length))
            else ProseCjk(rnd.nextInt(ProseCjk.length))
          prose + address(regions, a, rnd)
        } else if (rnd.nextInt(4) == 0) {
          ProseAscii(rnd.nextInt(ProseAscii.length)) + "ref#" + rnd.nextInt(100000)
        } else {
          ProseCjk(rnd.nextInt(ProseCjk.length)) + "稍后补充，工单" + rnd.nextInt(10000)
        }
      Turn(convId, t, role, text, tool,
        new Timestamp(base + c * 3600000L + t.toLong * 60000L))
    }
  }

  /** Transcript table (`input_hint` shape); driver-side variant for tests.
    * Deterministic in (seed, nConvs). */
  def transcripts(regions: Regions, nConvs: Int, nDistricts: Int,
      seed: Long): IndexedSeq[Turn] = {
    val anchors = pickAnchors(regions, nDistricts)
    val buf = new ArrayBuffer[Turn](nConvs * 5)
    var c = 0
    while (c < nConvs) {
      buf ++= convTurns(regions, anchors, c, seed)
      c += 1
    }
    buf.toIndexedSeq
  }

  /** Distributed generators: executors derive each row from its own seed, so
    * output is identical for any partitioning — no driver-side materialization
    * or LocalTableScan bottleneck at bench scale. */
  def corpusDS(spark: org.apache.spark.sql.SparkSession,
      bdict: org.apache.spark.broadcast.Broadcast[graft.link.Dict],
      n: Long, nDistricts: Int, seed: Long)
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    import spark.implicits._
    spark.range(n).mapPartitions { it =>
      val regions = bdict.value.regions
      val anchors = pickAnchors(regions, nDistricts)
      it.map(i => corpusRow(regions, anchors, i, seed))
    }
  }

  def transcriptsDS(spark: org.apache.spark.sql.SparkSession,
      bdict: org.apache.spark.broadcast.Broadcast[graft.link.Dict],
      nConvs: Long, nDistricts: Int, seed: Long)
      : org.apache.spark.sql.Dataset[Turn] = {
    import spark.implicits._
    spark.range(nConvs).mapPartitions { it =>
      val regions = bdict.value.regions
      val anchors = pickAnchors(regions, nDistricts)
      it.flatMap(c => convTurns(regions, anchors, c, seed))
    }
  }

  // ---- skew-stress generators (bench GRAFT_SKEW mode; round 5) -------------
  // The power-law shape the link's cell planner must absorb (SURVEY
  // §7.4-4: one 北京市-sized district ≫ rural counties): the FIRST anchor
  // district holds ~hotTenths/10 of the historical corpus, while the query
  // stream only rarely touches it — hot-but-NARROW, so the memory valve,
  // not the query count, decides how many cells its docs split into.

  /** Corpus with district 0 drawing `hotTenths`/10 of rows (rest uniform
    * over the other districts). `hotTenths = 3` reproduces the standard
    * generator's skew. */
  def corpusDSSkewed(spark: org.apache.spark.sql.SparkSession,
      bdict: org.apache.spark.broadcast.Broadcast[graft.link.Dict],
      n: Long, nDistricts: Int, seed: Long, hotTenths: Int)
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    import spark.implicits._
    spark.range(n).mapPartitions { it =>
      val regions = bdict.value.regions
      val anchors = pickAnchors(regions, nDistricts)
      it.map { i =>
        val rnd = new Random(mix(seed, i))
        val idx =
          if (anchors.length > 1 && rnd.nextInt(10) < hotTenths) 0
          else 1 + rnd.nextInt(math.max(1, anchors.length - 1))
        (i, address(regions, anchors(idx), rnd))
      }
    }
  }

  /** Transcripts whose mention anchors EXCLUDE the hot district except for
    * every `hotConvEvery`-th conversation — keeps the hot district's query
    * count small (a few queries against its whole doc side) while the rest
    * of the stream stays busy. */
  def transcriptsDSSkewed(spark: org.apache.spark.sql.SparkSession,
      bdict: org.apache.spark.broadcast.Broadcast[graft.link.Dict],
      nConvs: Long, nDistricts: Int, seed: Long, hotConvEvery: Long)
      : org.apache.spark.sql.Dataset[Turn] = {
    import spark.implicits._
    spark.range(nConvs).mapPartitions { it =>
      val regions = bdict.value.regions
      val anchors = pickAnchors(regions, nDistricts)
      val cold = if (anchors.length > 1) anchors.drop(1) else anchors
      it.flatMap { c =>
        val pool = if (c % hotConvEvery == 0) anchors else cold
        convTurns(regions, pool, c, seed)
      }
    }
  }
}
