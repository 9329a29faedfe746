package graft.dict

import java.io.{BufferedReader, InputStreamReader}
import java.util.zip.GZIPInputStream

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuilder

import graft.model.{Region, RegionTypes}

/** Immutable region dictionary: id→region plus parent→children adjacency.
  * Replaces the reference's driver-side tree + id hash cache
  * (`persist/AddressPersister.java:248-278`, cache at `:155-159`).
  *
  * Built once on the driver, then `spark.sparkContext.broadcast` to
  * executors. The rows are parallel primitive columns (id, parent, type) plus
  * one string holding every name, alias and zip, cut by `textEnd`: that is
  * all that is serialized. The `Region` objects, the id index (open
  * addressing over `ids`) and the children runs are `@transient lazy` views
  * that each JVM builds from the columns on first use.
  */
final class Regions private (
    ids: Array[Long],
    parents: Array[Long],
    types: Array[Int],
    text: String,
    textEnd: Array[Int]
) extends Serializable {

  /** Field `f` (0 name, 1 alias, 2 zip) of row `r`. */
  private def field(r: Int, f: Int): String = {
    val k = 3 * r + f
    text.substring(if (k == 0) 0 else textEnd(k - 1), textEnd(k))
  }

  @transient private lazy val rows: Array[Region] = Array.tabulate(ids.length)(r =>
    Region(ids(r), parents(r), field(r, 0), field(r, 1), types(r), field(r, 2)))

  /** Row of each id; a repeated id resolves to its last row. */
  @transient private lazy val rowIndex = new Regions.LongIndex(ids)

  @transient private lazy val runs = new Regions.ChildRuns(ids, parents)

  private[dict] def size: Int = ids.length
  private[dict] def id(r: Int): Long = ids(r)
  private[dict] def regionType(r: Int): Int = types(r)
  private[dict] def name(r: Int): String = field(r, 0)
  private[dict] def alias(r: Int): String = field(r, 1)
  private[dict] def row(r: Int): Region = rows(r)

  /** Rows of the children of `id`, ordered by id. */
  private[dict] def childRows(id: Long): Array[Int] = {
    val c = runs
    val k = c.runOf(id)
    if (k < 0) Array.emptyIntArray
    else java.util.Arrays.copyOfRange(c.order, c.start(k), c.start(k + 1))
  }

  /** Rows of the regions indexing starts from: the country's children (the
    * provinces, `index/TermIndexBuilder.java:19-22`), or, without a country
    * row, every region whose parent is not in the dictionary, by id. */
  private[dict] def rootRows: Array[Int] = {
    val country = (0 until size).filter(types(_) == RegionTypes.Country)
    if (country.nonEmpty) country.flatMap(r => childRows(ids(r))).toArray
    else (0 until size).filter(r => rowIndex(parents(r)) < 0).sortBy(ids(_)).toArray
  }

  def all: IndexedSeq[Region] = ArraySeq.unsafeWrapArray(rows)

  /** A Scala map view of the id index, for callers that want one. */
  @transient lazy val byId: Map[Long, Region] = all.iterator.map(r => r.id -> r).toMap

  def get(id: Long): Region = {
    val r = rowIndex(id)
    if (r < 0) null else rows(r)
  }

  /** Children ordered by id, as a view over their run. */
  def children(id: Long): IndexedSeq[Region] = {
    val c = runs
    val k = c.runOf(id)
    if (k < 0) IndexedSeq.empty
    else {
      val from = c.start(k)
      new IndexedSeq[Region] {
        val length: Int = c.start(k + 1) - from
        def apply(i: Int): Region = rows(c.order(from + i))
      }
    }
  }

  def hasChildren(id: Long): Boolean = runs.runOf(id) >= 0

  def roots: IndexedSeq[Region] = ArraySeq.unsafeWrapArray(rootRows.map(rows(_)))
}

object Regions {

  /** Ignore-list noise strings indexed as `TermType.Ignore`
    * (`src/main/resources/spring-config.xml:39-63`). */
  val IgnoreList: Seq[String] = Seq(
    "其它区", "其他地区", "其它地区", "全境", "城区", "城区以内", "城区以外",
    "郊区", "县城内", "内环以内", "开发区", "经济开发区", "经济技术开发区",
    "省直辖", "省直辖市县", "地区", "市区"
  )

  /** Open addressing over `keys`, probed linearly: key → its last position
    * in `keys`, or -1. */
  private final class LongIndex(keys: Array[Long]) {
    private val slots = new Array[Int](Integer.highestOneBit(math.max(keys.length, 1)) * 4)
    private val mask = slots.length - 1

    private def slot(k: Long): Int = {
      val h = k * 0x9E3779B97F4A7C15L
      (h ^ (h >>> 32)).toInt & mask
    }

    locally {
      var i = 0
      while (i < keys.length) {
        var s = slot(keys(i))
        while (slots(s) != 0 && keys(slots(s) - 1) != keys(i)) s = (s + 1) & mask
        slots(s) = i + 1 // 0 marks an empty slot
        i += 1
      }
    }

    def apply(k: Long): Int = {
      var s = slot(k)
      var v = slots(s)
      while (v != 0 && keys(v - 1) != k) {
        s = (s + 1) & mask
        v = slots(s)
      }
      v - 1
    }
  }

  /** Rows ordered by (parent id, id), stable: each parent's children are one
    * run, in the reference's `order by id` child load
    * (`resources/sql-mapper/RegionEntityMapper.xml`), which fixes trie item
    * insertion order and therefore visitor arbitration order. Run k is
    * `order[start(k), start(k + 1))`; `runOf` maps a parent id to its run. */
  private final class ChildRuns(ids: Array[Long], parents: Array[Long]) {
    val order: Array[Int] = {
      val o = Array.tabulate[Integer](ids.length)(Int.box)
      java.util.Arrays.sort(o, (a: Integer, b: Integer) => {
        val c = java.lang.Long.compare(parents(a), parents(b))
        if (c != 0) c else java.lang.Long.compare(ids(a), ids(b))
      })
      o.map(_.intValue)
    }
    private val heads = order.indices.filter(i =>
      i == 0 || parents(order(i)) != parents(order(i - 1))).toArray
    val start: Array[Int] = heads :+ order.length
    val runOf = new LongIndex(heads.map(i => parents(order(i))))
  }

  /** Collects rows into the column form. */
  private final class Builder {
    private val ids = new ArrayBuilder.ofLong
    private val parents = new ArrayBuilder.ofLong
    private val types = new ArrayBuilder.ofInt
    private val text = new java.lang.StringBuilder
    private val textEnd = new ArrayBuilder.ofInt

    def row(id: Long, parent: Long, regionType: Int): Unit = {
      ids += id; parents += parent; types += regionType
    }

    /** Appends `s[from, until)` as the next text field. */
    def field(s: CharSequence, from: Int, until: Int): Unit = {
      text.append(s, from, until)
      textEnd += text.length
    }

    def field(s: String): Unit = field(s, 0, s.length)

    def result(): Regions =
      new Regions(ids.result(), parents.result(), types.result(), text.toString,
        textEnd.result())
  }

  def apply(rows: Seq[Region]): Regions = {
    val b = new Builder
    rows.foreach { r =>
      b.row(r.id, r.parentId, r.regionType)
      b.field(r.name); b.field(r.alias); b.field(r.zip)
    }
    b.result()
  }

  /** Load the packaged administrative-region dictionary (public data extracted
    * from the reference repo's `conf/script/db-init-data.sql`, ~47.7k rows of
    * `id parent type name alias [zip]`, tab-separated). */
  def loadDefault(): Regions = {
    val in = getClass.getResourceAsStream("/graft/region-dict.tsv.gz")
    require(in != null, "region-dict.tsv.gz missing from classpath")
    val br = new BufferedReader(
      new InputStreamReader(new GZIPInputStream(in, 1 << 16), "UTF-8"), 1 << 16)
    try {
      val b = new Builder
      var line = br.readLine()
      while (line != null) {
        val t1 = line.indexOf('\t')
        val t2 = line.indexOf('\t', t1 + 1)
        val t3 = line.indexOf('\t', t2 + 1)
        val t4 = line.indexOf('\t', t3 + 1)
        val t5 = line.indexOf('\t', t4 + 1)
        val aliasEnd = if (t5 < 0) line.length else t5
        b.row(java.lang.Long.parseLong(line, 0, t1, 10),
          java.lang.Long.parseLong(line, t1 + 1, t2, 10),
          Integer.parseInt(line, t2 + 1, t3, 10))
        b.field(line, t3 + 1, t4)
        b.field(line, t4 + 1, aliasEnd)
        b.field(line, if (t5 < 0) aliasEnd else t5 + 1, line.length)
        line = br.readLine()
      }
      b.result()
    } finally br.close()
  }
}
