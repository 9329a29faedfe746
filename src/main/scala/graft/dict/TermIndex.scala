package graft.dict

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import graft.model.{Region, RegionTypes, TermTypes}
import graft.util.Str

/** Trie payload: (term type, optional region). Ignore items carry no region
  * (`index/TermIndexItem.java:10-12`). */
final class IndexItem(val termType: Char, val region: Region) extends Serializable

/** Visitor contract for the deep-most backtracking search
  * (`index/TermIndexVisitor.java:13-43`). Nodes are integer ids into the
  * flattened trie (`TermIndex`). */
trait IndexVisitor {
  def startRound(): Unit
  def visit(node: Int, text: String, pos: Int): Boolean
  def positionAfterAcceptItem: Int
  def endVisit(node: Int, text: String, pos: Int): Unit
  def endRound(): Unit
}

/** Character trie over all region names + aliases — the reference's inverted
  * index (`index/TermIndexBuilder.java`), built driver-side and broadcast.
  *
  * Storage is FLATTENED into parallel arrays (child char/node ranges sorted
  * for binary search, item ranges, key lengths): trie traversal is the hot
  * inner loop of interpretation AND of per-offset mention scanning. The
  * default dictionary indexes 132,172 keys (91,206 distinct strings) in
  * 122,791 nodes.
  *
  * The build writes the arrays straight from the key list, with no node
  * objects: the keys are generated in the reference's insertion order
  * (region-tree DFS in child-id order, names longest-first, auto-aliases
  * after, ignore list last), sorted by (key, place), and each key's nodes
  * are the characters past its common prefix with the previous key. So nodes are
  * numbered in DFS preorder, children come out char-sorted, and the items
  * of a node keep insertion order, which visitor arbitration depends on.
  *
  * Only primitive arrays (and the [[Regions]] columns) are serialized: an
  * item travels as (term type, region row), and the `IndexItem` objects are
  * a `@transient lazy` view each JVM builds on first use.
  */
final class TermIndex private (regions: Regions, flat: TermIndex.Flat)
    extends Serializable {

  def this(regions: Regions, ignoreList: Seq[String]) =
    this(regions, TermIndex.build(regions, ignoreList))

  // node i: children are childChar/childNode[childStart(i) until childStart(i+1)]
  //         (sorted by char); items are item*[itemStart(i) until itemStart(i+1)].
  // Node 0 is the root.
  private val childStart = flat.childStart
  private val childChar = flat.childChar
  private val childNode = flat.childNode
  private val itemStart = flat.itemStart
  private val itemType = flat.itemType
  private val itemRow = flat.itemRow // -1: no region (ignore-list items)
  private val keyLenArr = flat.keyLen

  @transient private lazy val itemArr: Array[IndexItem] =
    Array.tabulate(itemType.length)(i =>
      new IndexItem(itemType(i), if (itemRow(i) < 0) null else regions.row(itemRow(i))))

  // ---- flat accessors ------------------------------------------------------
  @inline private def child(node: Int, c: Char): Int = {
    var lo = childStart(node)
    var hi = childStart(node + 1)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val mc = childChar(mid)
      if (mc < c) lo = mid + 1
      else if (mc > c) hi = mid
      else return childNode(mid)
    }
    -1
  }
  @inline def hasItem(node: Int): Boolean = itemStart(node) < itemStart(node + 1)
  @inline def itemsFrom(node: Int): Int = itemStart(node)
  @inline def itemsUntil(node: Int): Int = itemStart(node + 1)
  @inline def item(i: Int): IndexItem = itemArr(i)
  @inline def keyLen(node: Int): Int = keyLenArr(node)
  @inline private def hasChildren(node: Int): Boolean =
    childStart(node) < childStart(node + 1)

  /** Fast pre-check for offset scans: no trie entry starts with this char. */
  def rootHasChar(c: Char): Boolean = child(0, c) >= 0

  /** Deep-most backtracking search (`TermIndexBuilder.java:107-131`): longest
    * -first DFS descent, visit payload nodes, recurse after accepted items —
    * full enumeration of alternative segmentations. */
  def deepMostQuery(text: String, visitor: IndexVisitor): Unit = {
    if (text == null || text.isEmpty) return
    deepMostQuery(text, 0, visitor)
  }

  def deepMostQuery(text: String, pos: Int, visitor: IndexVisitor): Unit = {
    visitor.startRound()
    deepFirstQueryRound(text, pos, 0, visitor)
    visitor.endRound()
  }

  private def deepFirstQueryRound(text: String, pos: Int, parent: Int,
      visitor: IndexVisitor): Unit = {
    val entry = child(parent, text.charAt(pos))
    if (entry < 0) return
    if (hasChildren(entry) && pos + 1 <= text.length - 1)
      deepFirstQueryRound(text, pos + 1, entry, visitor)
    if (hasItem(entry)) {
      if (visitor.visit(entry, text, pos)) {
        val p = visitor.positionAfterAcceptItem
        if (p + 1 <= text.length - 1) deepMostQuery(text, p + 1, visitor)
        visitor.endVisit(entry, text, p)
      }
    }
  }

  /** Exact whole-string lookup (`TermIndexBuilder.fullMatch` `:133-144`). */
  def fullMatch(text: String): Seq[IndexItem] = {
    if (text == null || text.isEmpty) return null
    var node = 0
    var pos = 0
    while (pos < text.length) {
      node = child(node, text.charAt(pos))
      if (node < 0) return null
      pos += 1
    }
    if (!hasItem(node)) null
    else itemArr.slice(itemStart(node), itemStart(node + 1)).toSeq
  }
}

object TermIndex {

  private final class Flat(val childStart: Array[Int], val childChar: Array[Char],
      val childNode: Array[Int], val itemStart: Array[Int], val itemType: Array[Char],
      val itemRow: Array[Int], val keyLen: Array[Int])

  /** An indexed key and its place in insertion order. The order is (text,
    * place), so sorted keys keep insertion order within equal texts. */
  private final class Key(val text: String, val seq: Int) extends Comparable[Key] {
    def compareTo(o: Key): Int = {
      val c = text.compareTo(o.text)
      if (c != 0) c else Integer.compare(seq, o.seq)
    }
  }

  /** The keys in insertion order, each with its item (term type, region row). */
  private final class Keys {
    val keys = new ArrayBuffer[Key]()
    val types = new ArrayBuilder.ofChar
    val rows = new ArrayBuilder.ofInt
    def add(key: String, termType: Char, row: Int): Unit =
      if (key != null && !key.isEmpty) {
        keys += new Key(key, keys.length); types += termType; rows += row
      }
  }

  private def build(regions: Regions, ignoreList: Seq[String]): Flat = {
    val keys = new Keys
    indexRegions(regions, regions.rootRows, keys)
    ignoreList.foreach(keys.add(_, TermTypes.Ignore, -1))
    flatten(sortKeys(keys.keys), keys.types.result(), keys.rows.result())
  }

  /** The keys in (text, place) order: a counting sort on the first char, then
    * a comparison sort of each run of equal first chars. Most runs are a few
    * dozen keys, so this makes a third of the comparisons of one sort. */
  private def sortKeys(keys: ArrayBuffer[Key]): Array[Key] = {
    val start = new Array[Int](Char.MaxValue + 2) // run of char c: [start(c), start(c + 1))
    keys.foreach(k => start(k.text.charAt(0) + 1) += 1)
    var c = 0
    while (c <= Char.MaxValue) { start(c + 1) += start(c); c += 1 }
    val sorted = new Array[Key](keys.length)
    val fill = start.clone()
    keys.foreach { k =>
      val c0 = k.text.charAt(0)
      sorted(fill(c0)) = k
      fill(c0) += 1
    }
    c = 0
    while (c <= Char.MaxValue) {
      if (start(c + 1) - start(c) > 1)
        java.util.Arrays.sort(sorted.asInstanceOf[Array[AnyRef]], start(c), start(c + 1))
      c += 1
    }
    sorted
  }

  /** `TermIndexBuilder.indexRegions` `TermIndexBuilder.java:33-74` including
    * the 街道/镇/乡 auto-alias generation (`:41-68`): a region's keys, then
    * its children's, depth first. */
  private def indexRegions(regions: Regions, rows: Array[Int], keys: Keys): Unit =
    rows.foreach { row =>
      val name = regions.name(row)
      val alias = regions.alias(row)
      val rType = regions.regionType(row)
      val isTown = Region.isTown(rType, name)
      val t = convertRegionType(rType, isTown)
      Region.orderedNameAndAlias(name, alias).foreach(keys.add(_, t, row))
      var autoAlias = name.length <= 5 && alias.isEmpty &&
        (isTown || name.endsWith("街道"))
      if (autoAlias && name.length == 5) {
        name.charAt(2) match {
          case '路' | '街' | '门' | '镇' | '村' | '区' => autoAlias = false
          case _ =>
        }
      }
      if (autoAlias) {
        val shortName =
          if (isTown) Str.head(name, name.length - 1)
          else Str.head(name, name.length - 2)
        if (shortName.length >= 2) keys.add(shortName, t, row)
        if (name.endsWith("街道") || name.endsWith("镇")) keys.add(shortName + "乡", t, row)
        if (name.endsWith("街道") || name.endsWith("乡")) keys.add(shortName + "镇", t, row)
      }
      indexRegions(regions, regions.childRows(regions.id(row)), keys)
    }

  /** `TermIndexBuilder.convertRegionType` `TermIndexBuilder.java:86-105`. */
  private def convertRegionType(regionType: Int, isTown: Boolean): Char = regionType match {
    case RegionTypes.Province | RegionTypes.ProvinceLevelCity1 => TermTypes.Province
    case RegionTypes.City | RegionTypes.ProvinceLevelCity2     => TermTypes.City
    case RegionTypes.District | RegionTypes.CityLevelDistrict  => TermTypes.District
    case RegionTypes.PlatformL4                                => TermTypes.Street
    case RegionTypes.Town                                      => TermTypes.Town
    case RegionTypes.Village                                   => TermTypes.Village
    case RegionTypes.Street => if (isTown) TermTypes.Town else TermTypes.Street
    case _ => TermTypes.Undefined
  }

  /** The flat arrays from the sorted keys. A key equal to the one before it
    * adds its item to that key's node; any other key adds one node per char
    * past its common prefix with the key before it, numbering nodes in DFS
    * preorder (a node's items are then contiguous and in insertion order). */
  private def flatten(sorted: Array[Key], keyType: Array[Char], keyRow: Array[Int]): Flat = {
    val nKeys = sorted.length
    // lcp(i): chars key i shares with key i-1, or -1 when the two are equal.
    val lcp = new Array[Int](nKeys)
    var nNodes = 1
    var maxLen = 0
    var i = 0
    while (i < nKeys) {
      val s = sorted(i).text
      if (i > 0) {
        val p = sorted(i - 1).text
        val n = math.min(p.length, s.length)
        var l = 0
        while (l < n && p.charAt(l) == s.charAt(l)) l += 1
        lcp(i) = if (l == s.length && l == p.length) -1 else l
      }
      if (lcp(i) >= 0) nNodes += s.length - lcp(i)
      maxLen = math.max(maxLen, s.length)
      i += 1
    }

    val keyLen = new Array[Int](nNodes)
    val itemStart = new Array[Int](nNodes + 1)
    val itemType = new Array[Char](nKeys)
    val itemRow = new Array[Int](nKeys)
    val parent = new Array[Int](nNodes)
    val edgeChar = new Array[Char](nNodes)
    val path = new Array[Int](maxLen + 1) // path(d): node of the current key's d-char prefix
    var next = 1
    i = 0
    while (i < nKeys) {
      val s = sorted(i).text
      var d = lcp(i) + 1
      while (d > 0 && d <= s.length) {
        keyLen(next) = d
        itemStart(next) = i
        parent(next) = path(d - 1)
        edgeChar(next) = s.charAt(d - 1)
        path(d) = next
        next += 1
        d += 1
      }
      itemType(i) = keyType(sorted(i).seq)
      itemRow(i) = keyRow(sorted(i).seq)
      i += 1
    }
    itemStart(nNodes) = nKeys

    // Children grouped by parent: a parent's children were numbered in
    // ascending char order, so a stable counting sort keeps them sorted.
    val childStart = new Array[Int](nNodes + 1)
    var n = 1
    while (n < nNodes) { childStart(parent(n) + 1) += 1; n += 1 }
    n = 0
    while (n < nNodes) { childStart(n + 1) += childStart(n); n += 1 }
    val childChar = new Array[Char](nNodes - 1)
    val childNode = new Array[Int](nNodes - 1)
    val fill = java.util.Arrays.copyOf(childStart, nNodes)
    n = 1
    while (n < nNodes) {
      val at = fill(parent(n))
      childChar(at) = edgeChar(n)
      childNode(at) = n
      fill(parent(n)) = at + 1
      n += 1
    }
    new Flat(childStart, childChar, childNode, itemStart, itemType, itemRow, keyLen)
  }
}
