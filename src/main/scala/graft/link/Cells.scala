package graft.link

import java.io.{ByteArrayOutputStream, DataOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset

import graft.model.{DocVec, IdfRow, LinkHit}

import Linker.CellKnobs

/** The link's one cell layout, shared by the shuffled batch cells
  * (`Linker.linkTopK`, Dataset cogroup) and the persisted streaming cells
  * (`LinkIndex`, RDD cogroup; `CellKnobs(1, db)` per district). A cell is
  * `(partKey, qBucket, dBucket)`; a district's knobs `CellKnobs(g, db)` give
  * it g·db cells, and a district without an entry is one cell.
  *
  *  - docs pack per input partition into blobs of [[BlobDocs]] docs of one
  *    district; blob i of the partition goes to dBucket `i mod db` and is
  *    replicated to all g qBuckets, so every doc lands in exactly g cells;
  *  - a district's idf table packs into blobs that go to all g·db cells;
  *  - a query goes to qBucket `docId mod g` and is replicated to all db
  *    dBuckets, so when any db > 1 a query's partial top-k lists merge
  *    ([[topK]]).
  *
  * Cell rows are `(key, (tag, blob))`, tag 0 a doc blob and tag 1 an idf
  * blob: what `Linker.scoreCell` reads. The per-partition functions are
  * plain iterator maps, so both paths (and the layout test) run the same
  * code. */
private[graft] object Cells {

  type Key = (String, Int, Int)
  type Blob = (Int, Array[Byte])

  /** Docs per doc blob: amortizes per-row shuffle costs ~256× and bounds a
    * blob to a few hundred KB. */
  val BlobDocs = 256

  /** Default task-memory valve: the most docs one cell should hold. */
  val MaxDocsPerCell: Int = 1 << 16

  /** The memory valve: doc buckets a district of `d` docs needs so that no
    * cell holds more than `maxDocsPerCell` of them (at least 1). */
  def valve(d: Long, maxDocsPerCell: Int): Int =
    math.max(1L, (d + maxDocsPerCell - 1) / maxDocsPerCell).toInt

  private def gOf(knobs: Map[String, CellKnobs], pk: String): Int =
    knobs.get(pk).fold(1)(k => math.max(1, k.qBuckets))

  private def dbOf(knobs: Map[String, CellKnobs], pk: String): Int =
    knobs.get(pk).fold(1)(k => math.max(1, k.dBuckets))

  /** Does any district split its docs (so queries meet several cells)? */
  def splitsDocs(knobs: Map[String, CellKnobs]): Boolean =
    knobs.valuesIterator.exists(_.dBuckets > 1)

  /** One input partition's docs as tag-0 cell rows. */
  def docCells(it: Iterator[DocVec],
      knobs: Map[String, CellKnobs]): Iterator[(Key, Blob)] = {
    var blobIdx = 0
    DocBlob.packGroups(it, BlobDocs).flatMap { case (pk, bytes) =>
      blobIdx += 1
      val dbk = blobIdx % dbOf(knobs, pk)
      (0 until gOf(knobs, pk)).iterator.map(qb => ((pk, qb, dbk), (0, bytes)))
    }
  }

  /** One input partition's idf rows as tag-1 cell rows. */
  def idfCells(it: Iterator[IdfRow],
      knobs: Map[String, CellKnobs]): Iterator[(Key, Blob)] =
    IdfBlob.packGroups(it).flatMap { case (pk, bytes) =>
      for { qb <- (0 until gOf(knobs, pk)).iterator; dbk <- 0 until dbOf(knobs, pk) }
        yield ((pk, qb, dbk), (1, bytes))
    }

  /** One input partition's queries, keyed by every cell each one visits. */
  def queryCells(it: Iterator[DocVec],
      knobs: Map[String, CellKnobs]): Iterator[(Key, DocVec)] =
    it.flatMap { q =>
      val qb = java.lang.Long.remainderUnsigned(q.docId, gOf(knobs, q.partKey)).toInt
      (0 until dbOf(knobs, q.partKey)).iterator.map(dbk => ((q.partKey, qb, dbk), q))
    }

  /** Each query's final top-k from its cells' partial lists: one merge
    * shuffle when some district splits its docs, none otherwise. */
  def topK(partial: Dataset[LinkHit], knobs: Map[String, CellKnobs],
      topN: Int): Dataset[LinkHit] =
    if (splitsDocs(knobs)) Linker.mergeTopK(partial, topN) else partial

  /** Per-partKey row counts of each side, in ONE job: per-partition local
    * maps merged on the driver. District cardinality is bounded (~10³
    * nationally), so the partial maps are tiny and no exchange runs.
    * `counts(pk)(i)` is side i's count (0 where the side lacks pk). */
  def countByPk(sides: Dataset[DocVec]*): Map[String, Array[Long]] = {
    val spark = sides.head.sparkSession
    import spark.implicits._
    val partials = sides.zipWithIndex.map { case (ds, side) =>
      ds.mapPartitions { it =>
        val m = new java.util.HashMap[String, Long]()
        it.foreach(d => m.merge(d.partKey, 1L, (a, b) => a + b))
        m.entrySet().iterator().asScala.map(e => (e.getKey, side, e.getValue.longValue()))
      }
    }
    val merged = new scala.collection.mutable.HashMap[String, Array[Long]]()
    partials.reduce(_ union _).collect().foreach { case (pk, side, n) =>
      merged.getOrElseUpdate(pk, new Array[Long](sides.length))(side) += n
    }
    merged.toMap
  }

  /** The block framing of `DocBlob` and `IdfBlob`: group a partition's rows
    * by partKey into blobs of at most `maxPerBlob` rows, each a u32 row
    * count followed by the rows `write` emits. Emits (partKey, blob). */
  def pack[T](it: Iterator[T], maxPerBlob: Int, initBytes: Int)(
      partKey: T => String)(write: (DataOutputStream, T) => Unit)
      : Iterator[(String, Array[Byte])] = {
    final class Open {
      val bytes = new ByteArrayOutputStream(initBytes)
      val out = new DataOutputStream(bytes)
      var count = 0
    }
    val open = new scala.collection.mutable.HashMap[String, Open]()
    val done = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    def flush(pk: String): Unit = open.remove(pk).foreach { o =>
      o.out.flush()
      val body = o.bytes.toByteArray
      val full = new ByteArrayOutputStream(body.length + 4)
      val h = new DataOutputStream(full)
      h.writeInt(o.count)
      h.write(body)
      h.flush()
      done += ((pk, full.toByteArray))
    }
    it.foreach { row =>
      val pk = partKey(row)
      val o = open.getOrElseUpdate(pk, new Open)
      write(o.out, row)
      o.count += 1
      if (o.count >= maxPerBlob) flush(pk)
    }
    open.keys.toSeq.foreach(flush)
    done.iterator
  }
}
