package graft.link

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

import graft.model.{DocVec, IdfRow, LinkHit}

import Linker.{CellKnobs, TopK}

/** The link's one cell layout and its one cell engine, shared by the
  * shuffled batch cells (`Linker.linkTopK`) and the persisted streaming
  * cells (`LinkIndex`; `CellKnobs(1, db)` per district). A cell is
  * `(partKey, qBucket, dBucket)`; a district's knobs `CellKnobs(g, db)` give
  * it g·db cells, and a district without an entry is one cell.
  *
  *  - docs pack per input partition into blobs of [[BlobDocs]] docs of one
  *    district; blob i of the partition goes to dBucket `i mod db` and is
  *    replicated to all g qBuckets, so every doc lands in exactly g cells;
  *  - a district's idf table packs into blobs that go to all g·db cells;
  *  - a query goes to qBucket `docId mod g` and is replicated to all db
  *    dBuckets, so when any db > 1 a query's partial top-k lists merge
  *    ([[mergeHits]]).
  *
  * Cell rows are pair-RDD rows `(key, (tag, blob))`, tag 0 a doc blob and
  * tag 1 an idf blob: what `Linker.scoreCell` reads. The per-partition
  * functions are plain iterator maps, so both paths (and the layout test)
  * run the same code, and [[score]] is the one cogroup that scores cells.
  * Everything here runs on pair RDDs rather than Datasets: the link's rows
  * are opaque blobs and object rows, so Catalyst has nothing to optimise,
  * and every Dataset operator would add generated classes that Spark's
  * bounded codegen cache evicts from one pipeline run to the next. */
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

  /** The one cell engine: cogroup the cell rows (doc and idf blobs) with
    * the query cells under `partitioner` and score each cell that has
    * queries with `Linker.scoreCell`. Returns each cell's partial top-k;
    * they are final only when no district splits its docs. A side already
    * partitioned by `partitioner` (the persisted index cells) is read in
    * place: only the other side shuffles. */
  def score(cells: RDD[(Key, Blob)], queries: RDD[(Key, DocVec)],
      partitioner: Partitioner, topN: Int): RDD[LinkHit] =
    cells.cogroup(queries, partitioner).flatMap { case (_, (cellIt, qIt)) =>
      if (qIt.isEmpty) Iterator.empty
      else Linker.scoreCell(cellIt.iterator, qIt.iterator, topN)
    }

  /** Each query's final top-k from its partial lists: one queryId-keyed
    * `TopK` reduce over `partitions` partitions, combined map-side. Exact:
    * `TopK` is order-independent. */
  def mergeHits(partial: RDD[LinkHit], topN: Int,
      partitions: Int): RDD[LinkHit] =
    partial.map(h => (h.queryId, h)).combineByKey(
      (h: LinkHit) => new TopK(topN).add(h),
      (t: TopK, h: LinkHit) => t.add(h),
      (a: TopK, b: TopK) => a.merge(b),
      new HashPartitioner(partitions))
      .flatMap { case (qid, t) => t.toHits(qid) }

  /** Per-partKey row counts of each side, in ONE job: per-partition local
    * maps merged on the driver. District cardinality is bounded (~10³
    * nationally), so the partial maps are tiny and no exchange runs.
    * `counts(pk)(i)` is side i's count (0 where the side lacks pk). */
  def countByPk(sides: Dataset[DocVec]*): Map[String, Array[Long]] = {
    val partials = sides.zipWithIndex.map { case (ds, side) =>
      ds.rdd.mapPartitions { it =>
        val m = new scala.collection.mutable.HashMap[String, Long]()
        it.foreach(d => m(d.partKey) = m.getOrElse(d.partKey, 0L) + 1L)
        m.iterator.map { case (pk, n) => (pk, side, n) }
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
