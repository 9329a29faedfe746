package graft.interpret

import java.util.regex.Pattern

import scala.collection.mutable

import graft.dict.{Regions, TermIndex}
import graft.model.{InterpretedAddress, Region, TermTypes}
import graft.util.Str

/** Mutable working row for one address during interpretation
  * (`persist/AddressEntity.java:34-49`): `rawText` is immutable (round-trip
  * invariant), `text` carries the shrinking residual. */
final class MutableAddress(val rawText: String) {
  var text: String = if (rawText == null) "" else rawText.trim
  val division = new MDivision
  var road: String = ""
  var roadNum: String = ""
  var buildingNum: String = ""

  def setText(v: String): Unit = text = if (v == null) "" else v.trim

  /** Reassemble a canonical address string from the interpreted parts —
    * `AddressEntity.restoreText` (`AddressEntity.java:92-106`) with the
    * reference's street bug FIXED: the reference appends
    * `getDistrict().getName()` when a street is present (`:97`); we append
    * the street's own name. Documented divergence (SURVEY.md §5.3). */
  def restoreText: String = {
    val d = division
    val sb = new StringBuilder
    if (d.hasProvince) sb.append(d.province.name)
    if (d.hasCity) sb.append(d.city.name)
    if (d.hasDistrict) sb.append(d.district.name)
    if (d.hasStreet) sb.append(d.street.name)
    if (d.hasTown && !d.town.equals(d.street)) sb.append(d.town.name)
    if (d.hasVillage) sb.append(d.village.name)
    sb.append(road).append(roadNum).append(text)
    sb.toString
  }
}

/** Address interpretation — pure-function port of the reference pipeline
  * (`interpret/AddressInterpreter.java`), recast for per-partition reuse inside
  * `mapPartitions`: one `AddressInterpreter` + one `RegionVisitor` per
  * partition iterator, zero allocation shared state across rows.
  */
final class AddressInterpreter(val regions: Regions, val termIndex: TermIndex)
    extends Serializable {
  import AddressInterpreter._

  def newVisitor(): RegionVisitor = new RegionVisitor(regions, termIndex)

  /** Full pipeline (`AddressInterpreter.interpret` `:256-293`): buildingNum →
    * specialChars → brackets → region → redundancy → road → unit/room cleanup. */
  def interpret(addressText: String, visitor: RegionVisitor): MutableAddress = {
    if (addressText == null || addressText.trim.isEmpty) return null
    val addr = new MutableAddress(addressText)
    extractBuildingNum(addr)
    removeSpecialChars(addr)
    val brackets = extractBrackets(addr)
    extractRegion(addr, visitor)
    removeRedundancy(addr, visitor)
    extractRoad(addr)
    addr.setText(P_UNIT1.matcher(addr.text).replaceAll(""))
    addr.setText(P_UNIT2.matcher(addr.text).replaceAll(""))
    if (brackets != null && brackets.nonEmpty) addr.setText(addr.text + brackets)
    addr
  }

  /** `AddressInterpreter.extractRegion` `:295-307`. */
  def extractRegion(addr: MutableAddress, visitor: RegionVisitor): Boolean = {
    visitor.reset()
    termIndex.deepMostQuery(addr.text, visitor)
    addr.division.copyFrom(visitor.resultDivision)
    addr.setText(Str.substring(addr.text, visitor.resultEndPosition + 1))
    visitor.hasResult
  }

  /** `AddressInterpreter.removeSpecialChars` `:309-340`: strip the special char
    * set, then drop digit runs of length >= 5 (phone numbers). */
  def removeSpecialChars(addr: MutableAddress): Boolean = {
    if (addr.text.isEmpty) return false
    var text = Str.removeChars(addr.text, SpecialChars)
    val sb = new java.lang.StringBuilder(text.length)
    var digitCharNum = 0
    val minDigitCharNum = 5
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= '0' && c <= '9') digitCharNum += 1
      else {
        if (digitCharNum > 0 && digitCharNum < minDigitCharNum)
          sb.append(Str.substring(text, i - digitCharNum, i - 1))
        digitCharNum = 0
        sb.append(c)
      }
      i += 1
    }
    if (digitCharNum > 0 && digitCharNum < minDigitCharNum)
      sb.append(Str.tail(text, digitCharNum))
    text = sb.toString
    val result = text.length != addr.text.length
    addr.setText(text)
    result
  }

  /** `AddressInterpreter.removeRedundancy` `:342-389`: re-scan the residual
    * from every offset; a >=2-term (or >=1 full-name) match that agrees with
    * already-found province+city is stripped, back-filling lower levels. An
    * offset whose char starts no trie key matches nothing (a round there
    * leaves `resultMatchCount` at 0), so it is skipped without a round. */
  def removeRedundancy(addr: MutableAddress, visitor: RegionVisitor): Boolean = {
    if (addr.text.isEmpty || !addr.division.hasProvince || !addr.division.hasCity)
      return false
    val d = addr.division
    var removed = false
    var endIndex = addr.text.length - 2
    var i = 0
    while (i < endIndex) {
      if (!termIndex.rootHasChar(addr.text.charAt(i))) i += 1
      else {
        visitor.reset()
        termIndex.deepMostQuery(addr.text, i, visitor)
        val rd = visitor.resultDivision
        if (visitor.resultMatchCount < 2 && visitor.resultFullMatchCount < 1) {
          i += 1
        } else if (!d.province.equals(rd.province) || !d.city.equals(rd.city)) {
          i += 1
        } else {
          if (!d.hasDistrict && rd.hasDistrict && rd.district.parentId == d.city.id)
            d.district = rd.district
          if (d.hasDistrict && !d.hasStreet && rd.hasStreet &&
              rd.street.parentId == d.district.id)
            d.street = rd.street
          if (d.hasDistrict && !d.hasTown && rd.hasTown &&
              rd.town.parentId == d.district.id)
            d.setTown(rd.town)
          else if (d.hasDistrict && d.hasTown && d.town.equals(d.street) &&
              rd.hasTown && !rd.town.equals(rd.street) &&
              rd.town.parentId == d.district.id)
            d.setTown(rd.town)
          if (d.hasDistrict && !d.hasVillage && rd.hasVillage &&
              rd.village.parentId == d.district.id)
            d.village = rd.village

          addr.setText(Str.substring(addr.text, visitor.resultEndPosition + 1))
          endIndex = addr.text.length
          i = 0
          removed = true
        }
      }
    }
    removed
  }

  /** `AddressInterpreter.extractBrackets` `:391-413`: pull bracketed remarks
    * out; caller re-appends at the tail. */
  def extractBrackets(addr: MutableAddress): String = {
    if (addr.text.isEmpty) return null
    val matcher = BRACKET_PATTERN.matcher(addr.text)
    var found = false
    val brackets = new java.lang.StringBuilder
    while (matcher.find()) {
      val bracket = matcher.group("bracket")
      if (bracket.length > 2) {
        brackets.append(Str.substring(bracket, 1, bracket.length - 2))
        found = true
      }
    }
    if (found) {
      addr.setText(matcher.replaceAll(""))
      brackets.toString
    } else null
  }

  /** `AddressInterpreter.extractRoad` `:559-578`. */
  def extractRoad(addr: MutableAddress): Boolean = {
    if (addr.text.isEmpty) return false
    if (addr.road.nonEmpty) return true
    val matcher = P_ROAD.matcher(addr.text)
    if (matcher.find()) {
      val road = matcher.group("road")
      val ex = matcher.group("ex")
      val roadNum = (if (ex == null) "" else ex) +
        (if (matcher.group("roadnum") == null) "" else matcher.group("roadnum"))
      val leftText = Str.substring(addr.text, road.length + roadNum.length)
      if (leftText.startsWith("小区")) return false
      addr.road = road
      if (roadNum.length == 1) {
        // Bare 甲/乙/丙/丁 is not a road number: push back.
        addr.setText(roadNum + leftText)
      } else {
        addr.roadNum = roadNum
        addr.setText(leftText)
      }
      true
    } else false
  }

  /** `AddressInterpreter.extractBuildingNum` `:580-630` — 3 regex families +
    * validator; splits text into (buildingNum, remainder).
    *
    * The reference's `find()` loop over `P_BUILDING_NUM1` matches at every
    * offset it tries, since the pattern can match empty: it moves on by one
    * after an empty match and resumes at `end()` after a non-empty one that
    * fails validation. This loop makes the same steps with `lookingAt` from
    * each offset, and skips the offsets whose char cannot start a non-empty
    * match (their match is empty). */
  def extractBuildingNum(addr: MutableAddress): Boolean = {
    if (addr.text.isEmpty) return false
    var found = false
    var matcher = P_BUILDING_NUM1.matcher(addr.text)
    val len = addr.text.length
    var p = 0
    while (!found && p < len) {
      if (!canStartBuildingNum(addr.text.charAt(p))) p += 1
      else if (!matcher.region(p, len).lookingAt() || matcher.end() == p) p += 1
      else {
        p = matcher.end()
        var building = Str.substring(addr.text, matcher.start(), matcher.end() - 1)
        var nonEmptyGroups = 0
        // NB: loop bound groupCount() excludes the last group — kept bug-for-bug
        // with `AddressInterpreter.java:592-595`.
        var i = 0
        while (i < matcher.groupCount()) {
          if (matcher.group(i) != null) nonEmptyGroups += 1
          i += 1
        }
        if (P_BUILDING_NUM_V.matcher(building).find() && nonEmptyGroups > 3) {
          building = Str.substring(addr.text, matcher.start(), matcher.end() - 1)
          var pos = matcher.start()
          if (building.startsWith("路") || building.startsWith("街") ||
              building.startsWith("巷")) {
            pos += building.indexOf("号") + 1
            building = Str.substring(addr.text, pos, matcher.end() - 1)
          }
          addr.buildingNum = building
          addr.setText(Str.head(addr.text, pos))
          found = true
        }
      }
    }
    if (!found) {
      matcher = P_BUILDING_NUM2.matcher(addr.text)
      if (matcher.find()) {
        addr.buildingNum = Str.substring(addr.text, matcher.start(), matcher.end() - 1)
        addr.setText(Str.head(addr.text, matcher.start()))
        found = true
      }
    }
    if (!found) {
      matcher = P_BUILDING_NUM3.matcher(addr.text)
      if (matcher.find()) {
        addr.buildingNum = Str.substring(addr.text, matcher.start(), matcher.end() - 1)
        addr.setText(Str.head(addr.text, matcher.start()))
        found = true
      }
    }
    found
  }

  // ------------------------------------------------------------------
  // Town/village discovery (canonicalization feed, `:415-557`)
  // ------------------------------------------------------------------

  /** `AddressInterpreter.extractTownVillage(String, …)` `:415-423`. */
  def extractTownVillage(addressText: String, visitor: RegionVisitor,
      towns: mutable.Map[Long, mutable.ArrayBuffer[String]]): Unit = {
    if (addressText == null || addressText.trim.isEmpty) return
    val addr = new MutableAddress(addressText)
    removeSpecialChars(addr)
    extractBrackets(addr)
    extractRegion(addr, visitor)
    removeRedundancy(addr, visitor)
    extractTownVillage(addr, towns)
  }

  /** `AddressInterpreter.extractTownVillage(AddressEntity, …)` `:424-430`. */
  def extractTownVillage(addr: MutableAddress,
      towns: mutable.Map[Long, mutable.ArrayBuffer[String]]): Unit = {
    if (extractTownVillage(addr, towns, P_TOWN1, "z", null, "c") >= 0) return
    if (addr.division.hasTown)
      extractTownVillage(addr, towns, P_TOWN3, null, null, "c")
    else
      extractTownVillage(addr, towns, P_TOWN2, "z", "x", "c")
  }

  /** Core anchored-regex matcher (`:438-502`). Returns 1 matched, -1 tried but
    * no match, 0 not executed. */
  private def extractTownVillage(addr: MutableAddress,
      towns: mutable.Map[Long, mutable.ArrayBuffer[String]],
      pattern: Pattern, gz: String, gx: String, gc: String): Int = {
    if (addr.text.isEmpty || !addr.division.hasDistrict) return 0
    var result = -1
    val matcher = pattern.matcher(addr.text)
    if (matcher.find()) {
      val text = addr.text
      var c: String = if (gc == null) null else matcher.group(gc)
      var ic: Int = if (gc == null) -1 else matcher.end(gc)

      if (gz != null) {
        val z = matcher.group(gz)
        val iz = matcher.end(gz)
        if (z != null && z.nonEmpty) {
          if (z.length == 2 && text.startsWith("村", z.length)) {
            c = z + "村"; ic = iz + 1
          } else if (isAcceptableTownFollowingChars(z, text, z.length)) {
            if (acceptTown(towns, z, addr.division.district, addr.rawText, addr.text) >= 0) {
              addr.setText(Str.substring(text, iz))
              result = 1
            }
          }
        }
      }
      if (gx != null) {
        val x = matcher.group(gx)
        val ix = matcher.end(gx)
        if (x != null && x.nonEmpty) {
          if (x.length == 2 && text.startsWith("村", x.length)) {
            c = x + "村"; ic = ix + 1
          } else if (isAcceptableTownFollowingChars(x, text, x.length)) {
            if (acceptTown(towns, x, addr.division.district, addr.rawText, addr.text) >= 0) {
              addr.setText(Str.substring(text, ix))
              result = 1
            }
          }
        }
      }
      if (c != null && c.nonEmpty) {
        if (c.endsWith("农村")) return result
        var leftString = Str.substring(text, ic)
        if (c.endsWith("村村")) {
          c = Str.head(c, c.length - 1)
          leftString = "村" + leftString
        }
        if (leftString.startsWith("委") || leftString.startsWith("民委员"))
          leftString = "村" + leftString
        if (c.length >= 4 && (c.charAt(0) == '东' || c.charAt(0) == '西' ||
            c.charAt(0) == '南' || c.charAt(0) == '北'))
          c = Str.tail(c, c.length - 1)
        if (c.length == 2 && !isAcceptableTownFollowingChars(c, leftString, 0))
          return ic
        if (acceptTown(towns, c, addr.division.district, addr.rawText, addr.text) >= 0) {
          addr.setText(leftString)
          result = 1
        }
      }
    }
    result
  }

  /** `AddressInterpreter.acceptTown` `:507-536`: blacklist, dedup, anti-check
    * against the dictionary, 4-char+街 rejection. */
  private def acceptTown(all: mutable.Map[Long, mutable.ArrayBuffer[String]],
      town: String, district: Region, text1: String, text2: String): Int = {
    if (all == null || town == null || town.isEmpty || district == null) return -1
    if (InvalidTown.contains(town)) return -1
    val list = all.getOrElse(district.id, null)
    if (list != null && list.contains(town)) return 0
    val items = termIndex.fullMatch(town)
    if (items != null) {
      val it = items.iterator
      while (it.hasNext) {
        val item = it.next()
        if ((item.termType == TermTypes.Town || item.termType == TermTypes.Street ||
             item.termType == TermTypes.Village) &&
            item.region != null && item.region.parentId == district.id) return 0
      }
    }
    if (town.length == 4 && town.charAt(2) == '街') return -1
    val target =
      if (list != null) list
      else {
        val l = new mutable.ArrayBuffer[String]()
        all.put(district.id, l)
        l
      }
    target += town
    1
  }

  /** `AddressInterpreter.isAcceptableTownFollowingChars` `:537-557`. */
  private def isAcceptableTownFollowingChars(matched: String, text: String,
      start: Int): Boolean = {
    if (text == null || start >= text.length) return true
    if (matched.length == 4) {
      text.charAt(start) match {
        case '区' | '县' | '乡' | '镇' | '村' | '街' | '路' => return false
        case _ =>
      }
    }
    var s1 = Str.substring(text, start, start + 1)
    if (InvalidTownFollowings.contains(s1)) return false
    s1 = Str.substring(text, start, start + 2)
    if (InvalidTownFollowings.contains(s1)) return false
    true
  }

  /** Convert a finished mutable row to the immutable Dataset row. */
  def toInterpreted(id: Long, addr: MutableAddress): InterpretedAddress = {
    val d = addr.division
    InterpretedAddress(
      id = id,
      rawText = addr.rawText,
      text = addr.text,
      pid = if (d.hasProvince) d.province.id else 0L,
      cid = if (d.hasCity) d.city.id else 0L,
      did = if (d.hasDistrict) d.district.id else 0L,
      streetId = if (d.hasStreet) d.street.id else 0L,
      townId = if (d.hasTown) d.town.id else 0L,
      villageId = if (d.hasVillage) d.village.id else 0L,
      road = addr.road,
      roadNum = addr.roadNum,
      buildingNum = addr.buildingNum,
      matched = d.hasCity && d.hasDistrict
    )
  }

  /** Partition cache key `pid-cid[-did]` — district omitted when the city has
    * no children (`SimilarityComputer.buildCacheKey` `:619-626`). */
  def partKey(addr: MutableAddress): String = {
    val d = addr.division
    if (!d.hasProvince || !d.hasCity) return null
    val sb = new java.lang.StringBuilder
    sb.append(d.province.id).append('-').append(d.city.id)
    if (regions.hasChildren(d.city.id)) sb.append('-').append(d.district.id)
    sb.toString
  }
}

object AddressInterpreter {
  /** Special char strip set (`AddressInterpreter.java:34`). */
  val SpecialChars: Set[Char] = " \r\n\t,，。·.．;；:：、！@$%*^`~=+&'\"|_-\\/".toSet

  private val BRACKET_PATTERN = Pattern.compile(
    "(?<bracket>([\\(（\\{\\<〈\\[【「][^\\)）\\}\\>〉\\]】」]*[\\)）\\}\\>〉\\]】」]))")

  private val P_BUILDING_NUM1 = Pattern.compile(
    "((路|街|巷)[0-9]+号)?([0-9A-Z一二三四五六七八九十]+(栋|橦|幢|座|号楼|号|\\#楼?)){0,1}([一二三四五六七八九十东西南北甲乙丙0-9]+(单元|门|梯|层|座))?([0-9]+(室|房)?)?")
  /** The chars a non-empty `P_BUILDING_NUM1` match can start with: those
    * its four groups' first char classes admit. */
  private def canStartBuildingNum(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z') ||
      "路街巷一二三四五六七八九十东西南北甲乙丙".indexOf(c) >= 0
  private val P_BUILDING_NUM_V = Pattern.compile(
    "(栋|幢|橦|号楼|号|\\#|\\#楼|单元|室|房|门)+")
  private val P_BUILDING_NUM2 = Pattern.compile(
    "[A-Za-z0-9]+([\\#\\-一－/\\\\]+[A-Za-z0-9]+)+")
  private val P_BUILDING_NUM3 = Pattern.compile("[0-9]+组[0-9\\-一]+号?")

  private val P_TOWN1 = Pattern.compile(
    "^((?<z>[一-龥]{2,2}(镇|乡))(?<c>[一-龥]{1,3}村)?)")
  private val P_TOWN2 = Pattern.compile(
    "^((?<z>[一-龥]{1,3}镇)?(?<x>[一-龥]{1,3}乡)?(?<c>[一-龥]{1,3}村(?!(村|委|公路|(东|西|南|北)?(大街|大道|路|街))))?)")
  private val P_TOWN3 = Pattern.compile(
    "^(?<c>[一-龥]{1,3}村(?!(村|委|公路|(东|西|南|北)?(大街|大道|路|街))))?")
  private val P_ROAD = Pattern.compile(
    "^(?<road>([一-龥]{2,4}(路|街坊|街|道|大街|大道)))(?<ex>[甲乙丙丁])?(?<roadnum>[0-9０１２３４５６７８９一二三四五六七八九十]+(号院|号楼|号大院|号|號|巷|弄|院|区|条|\\#院|\\#))?")

  private val P_UNIT1 = Pattern.compile("[0-9A-Za-z\\#]+(单元|楼|室|层|米|户|\\#)")
  private val P_UNIT2 = Pattern.compile("[一二三四五六七八九十]+(单元|楼|室|层|米|户)")

  /** Town-discovery blacklists (`AddressInterpreter.java:66-170`). */
  val InvalidTownFollowings: Set[String] = Set(
    "政府", "大街", "大道", "社区", "小区", "小学", "中学", "医院", "银行",
    "中心", "卫生", "一小", "一中", "政局", "企局")

  val InvalidTown: Set[String] = Set(
    "新村", "外村", "大村", "后村", "东村", "南村", "北村", "西村", "上村",
    "下村", "一村", "二村", "三村", "四村", "五村", "六村", "七村", "八村",
    "九村", "十村", "中村", "街村", "头村", "店村", "桥村", "楼村", "老村",
    "户村", "山村", "才村", "子村", "旧村", "文村", "全村", "和村", "湖村",
    "甲村", "乙村", "丙村", "邻村", "乡村", "村二村", "中关村",
    "城乡", "县乡", "头乡", "牌乡", "茶乡", "水乡", "港乡", "巷乡", "七乡",
    "站乡", "西乡", "宝乡", "还乡",
    "古镇", "小镇", "街镇", "城镇", "环镇", "湾镇", "岗镇", "镇镇", "场镇",
    "新镇", "乡镇", "屯镇", "大镇", "南镇", "店镇", "铺镇", "关镇", "口镇",
    "和镇", "建镇", "集镇", "庙镇", "河镇", "村镇", "")
}
