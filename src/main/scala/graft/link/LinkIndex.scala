package graft.link

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.model.{DocVec, IdfRow, LinkHit}

/** Pre-partitioned, persisted static side for CONTINUOUS entity linking —
  * the structure that makes a micro-batch's cost independent of corpus size.
  *
  * `linkTopKAuto` re-plans per call: it counts both sides, packs the doc
  * blobs, and shuffles them into scoring cells. In a stream that repeats the
  * full static-corpus pass EVERY micro-batch — at 100 TB the stream would
  * re-shuffle 100 TB per trigger. This index does that work ONCE:
  *
  *  - doc-bucket count per district is a pure function of the STATIC side
  *    (`db = ⌈d / maxDocsPerCell⌉`, the same task-memory valve the batch
  *    planner applies), so cell membership never depends on the batch;
  *  - doc blobs and the district idf blobs are packed and hash-partitioned
  *    by cell key `(partKey, dbk)` once, then persisted partitioner-aware —
  *    idf cells SEPARATELY from doc cells;
  *  - each micro-batch replicates its (tiny) QUERY side ×db and cogroups
  *    against the persisted cells **with the index's own partitioner** — a
  *    narrow dependency on the static side: only the queries shuffle, and
  *    corpus passes per batch drop to zero.
  *
  * Because idfs stay OUT of the doc payload, the index also supports
  * incremental maintenance without touching the existing corpus bytes (the
  * reference's import loop grows its corpus batch by batch):
  *
  *  - [[appended]] packs only the delta docs into the existing cell space
  *    (partitioner-aware union — still narrow at link time);
  *  - [[withIdf]] swaps ONLY the tag-1 idf cells for a recomputed table —
  *    the corpus-wide idf drift a delta causes re-ships the per-district
  *    term dictionaries, never the doc payload;
  *  - [[compactionDue]] reports districts whose accumulated mass has
  *    outgrown the task-memory valve (the LSM-style rebuild trigger).
  *
  * This is the one place the engine drops to the RDD layer deliberately:
  * a `Dataset` cogroup re-plans its exchange on every action, so persisted
  * partitioning cannot be carried ACROSS queries — the pair-RDD
  * `partitionBy` + same-partitioner `cogroup`/union contract is exactly the
  * cross-query reuse the streaming path needs. Scoring reuses the batch
  * cells' `Linker.scoreCell` (in-cell idf stamping, one `LinkKernel` feed,
  * quantized TopK), so indexed output is bit-identical to `linkTopKAuto`
  * (LinkIndexSpec).
  *
  * Query buckets are fixed at g=1: micro-batch query sets are small, so
  * per-cell pair work `q·maxDocsPerCell` stays bounded by the batch size and
  * doc blobs need NO ×g replication at all. A batch large enough to break
  * that assumption belongs on the batch path.
  */
final class LinkIndex private (
    val dbByPk: Map[String, Int],
    val docCountByPk: Map[String, Long],
    val maxDocsPerCell: Int,
    private val docCells: RDD[((String, Int), (Int, Array[Byte]))],
    private val idfCells: RDD[((String, Int), (Int, Array[Byte]))],
    // Every RDD this generation chain has persisted — the cells themselves
    // plus any parents contributed by earlier generations. `appended` builds
    // a (never-persisted) union RDD, so unpersisting `docCells` alone would
    // free NOTHING for a derived generation; unpersist() walks this list.
    private val owned: Seq[RDD[_]]) extends Serializable {

  private def partitioner = docCells.partitioner.get

  /** Number of persisted cell partitions (for tests/inspection). */
  def numPartitions: Int = partitioner.numPartitions

  /** Districts whose accumulated doc mass exceeds the per-cell valve ×
    * their frozen bucket count — appended growth eventually owes these a
    * compaction (full re-build for just those districts). */
  def compactionDue: Set[String] =
    docCountByPk.iterator.collect {
      case (pk, d)
          if (d + maxDocsPerCell - 1) / maxDocsPerCell > dbByPk(pk) =>
        pk
    }.toSet

  /** Link one (micro-)batch of queries against the indexed corpus. Only the
    * query side shuffles; the static side is read in place. Each cell stamps
    * both sides from its tag-1 idf blobs (input query idfs are ignored), so
    * the only per-trigger movement is the raw query rows. */
  def link(spark: SparkSession, queries: Dataset[DocVec],
      topN: Int): Dataset[LinkHit] = {
    import spark.implicits._
    val bdb = spark.sparkContext.broadcast(dbByPk)
    val qPairs: RDD[((String, Int), DocVec)] = queries.rdd.flatMap { q =>
      (0 until bdb.value.getOrElse(q.partKey, 0))
        .map(dbk => ((q.partKey, dbk), q))
    }
    // Partitioner-aware union of the doc and idf cells: both sides carry
    // the SAME partitioner, so the union is narrow and so is the cogroup's
    // static leg.
    val cells = docCells.union(idfCells)
    assert(cells.partitioner.contains(partitioner),
      "cell union lost its partitioner — static side would re-shuffle")
    val partial: RDD[LinkHit] = cells.cogroup(qPairs, partitioner)
      .flatMap { case (_, (cellIt, qIt)) =>
        if (qIt.isEmpty) Iterator.empty
        else Linker.scoreCell(cellIt.iterator, qIt.iterator, topN)
      }
    val hits = spark.createDataset(partial)
    if (!dbByPk.valuesIterator.exists(_ > 1)) hits
    else Linker.mergeTopK(hits, topN)
  }

  /** The pre-collapse call shape of [[link]], kept only because the frozen
    * benchmark sources (`perfbench/`) call it; it goes with the next change
    * to the benchmark. `stampQueries` must be true: queries are always
    * stamped in-cell. */
  @deprecated("queries are always stamped in-cell; drop stampQueries", "0.1.0")
  def link(spark: SparkSession, queries: Dataset[DocVec], topN: Int,
      stampQueries: Boolean): Dataset[LinkHit] = {
    require(stampQueries, "the link always stamps query idfs in-cell")
    link(spark, queries, topN)
  }

  /** Incremental corpus growth: pack ONLY the delta docs into the existing
    * cell space (new districts get fresh buckets; existing districts keep
    * their frozen bucket count) and union partitioner-aware — the existing
    * corpus bytes are never repacked or re-shuffled — possible because doc
    * blobs carry no idfs, which a growing corpus would invalidate wholesale.
    * Pair with [[withIdf]] for the recomputed table; check
    * [[compactionDue]] periodically. The returned index SHARES this index's
    * persisted cells — unpersist only the final generation. */
  def appended(spark: SparkSession, delta: Dataset[DocVec],
      blobSize: Int = 256): LinkIndex = {
    val deltaCounts = delta.rdd.map(d => (d.partKey, 1L))
      .reduceByKey(_ + _).collect()
    val mdc = maxDocsPerCell
    val newDb = dbByPk ++ deltaCounts.iterator.collect {
      case (pk, d) if !dbByPk.contains(pk) =>
        pk -> math.max(1L, (d + mdc - 1) / mdc).toInt
    }
    val newCounts = docCountByPk ++ deltaCounts.iterator.map { case (pk, d) =>
      pk -> (docCountByPk.getOrElse(pk, 0L) + d)
    }
    val bdb = spark.sparkContext.broadcast(newDb)
    val deltaCells = delta.rdd.mapPartitions { it =>
      var blobIdx = 0
      DocBlob.packGroups(it, blobSize).map {
        case (pk, bytes) =>
          blobIdx += 1
          ((pk, blobIdx % bdb.value.getOrElse(pk, 1)), (0, bytes))
      }
    }.partitionBy(partitioner).persist(StorageLevel.MEMORY_AND_DISK)
    deltaCells.count()
    new LinkIndex(newDb, newCounts, mdc, docCells.union(deltaCells),
      idfCells, owned :+ deltaCells)
  }

  /** Swap the idf cells for a recomputed table (after [[appended]] deltas
    * shift document frequencies): re-ships only the per-district DISTINCT
    * -term dictionaries — the doc payload, which dwarfs them, stays put. */
  def withIdf(spark: SparkSession, idf: Dataset[IdfRow]): LinkIndex = {
    val bdb = spark.sparkContext.broadcast(dbByPk)
    val cells = LinkIndex.packIdfCells(idf, bdb)
      .partitionBy(partitioner).persist(StorageLevel.MEMORY_AND_DISK)
    cells.count()
    new LinkIndex(dbByPk, docCountByPk, maxDocsPerCell, docCells,
      cells, owned :+ cells)
  }

  /** Unpersist EVERY cell RDD this generation chain has persisted —
    * including parents shared with indexes this one was derived from via
    * [[appended]]/[[withIdf]], so call only once no generation of the chain
    * is in use (normally: on the last generation). */
  def unpersist(): Unit = {
    owned.foreach(_.unpersist())
    ()
  }
}

object LinkIndex {

  private[link] def packIdfCells(idf: Dataset[IdfRow],
      bdb: org.apache.spark.broadcast.Broadcast[Map[String, Int]])
      : RDD[((String, Int), (Int, Array[Byte]))] =
    idf.rdd.mapPartitions(it => IdfBlob.packGroups(it))
      .flatMap { case (pk, bytes) =>
        (0 until bdb.value.getOrElse(pk, 1)).map(dbk => ((pk, dbk), (1, bytes)))
      }

  /** Build (and EAGERLY materialize) the index: one pass over the static
    * docs to count, one pack + partition shuffle per cell family (docs,
    * idf), persisted. The doc blobs carry no idfs; the district idf tables
    * ride as tag-1 blobs into every cell of their district — the same wire
    * format as the batch path. */
  def build(spark: SparkSession, docs: Dataset[DocVec], idf: Dataset[IdfRow],
      maxDocsPerCell: Int = 1 << 16, blobSize: Int = 256): LinkIndex = {
    val counts = docs.rdd.map(d => (d.partKey, 1L)).reduceByKey(_ + _)
      .collect()
    val docCountByPk: Map[String, Long] = counts.toMap
    val dbByPk: Map[String, Int] = counts.iterator.map { case (pk, d) =>
      pk -> math.max(1L, (d + maxDocsPerCell - 1) / maxDocsPerCell).toInt
    }.toMap
    val bdb = spark.sparkContext.broadcast(dbByPk)
    val totalCells = dbByPk.valuesIterator.map(_.toLong).sum
    val numParts = math.max(spark.sparkContext.defaultParallelism.toLong,
      math.min(totalCells, 4L * spark.sparkContext.defaultParallelism))
      .toInt
    val partitioner = new HashPartitioner(math.max(1, numParts))
    val docCells = docs.rdd.mapPartitions { it =>
      var blobIdx = 0
      DocBlob.packGroups(it, blobSize).map {
        case (pk, bytes) =>
          blobIdx += 1
          ((pk, blobIdx % bdb.value.getOrElse(pk, 1)), (0, bytes))
      }
    }.partitionBy(partitioner).persist(StorageLevel.MEMORY_AND_DISK)
    docCells.count() // materialize NOW: the one-time cost the stream amortizes
    val idfCells = packIdfCells(idf, bdb)
      .partitionBy(partitioner).persist(StorageLevel.MEMORY_AND_DISK)
    idfCells.count()
    new LinkIndex(dbByPk, docCountByPk, maxDocsPerCell, docCells, idfCells,
      Seq(docCells, idfCells))
  }

  /** The pre-collapse call shape of [[build]], kept only because the frozen
    * benchmark sources (`perfbench/`) call it; it goes with the next change
    * to the benchmark. `idf` must be given. */
  @deprecated("pass idf: Dataset[IdfRow]", "0.1.0")
  def build(spark: SparkSession, docs: Dataset[DocVec],
      idf: Option[Dataset[IdfRow]]): LinkIndex = {
    require(idf.isDefined, "the index always ships idf into its cells")
    build(spark, docs, idf.get)
  }
}
