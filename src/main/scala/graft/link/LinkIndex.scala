package graft.link

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.SessionRdd
import org.apache.spark.storage.StorageLevel

import graft.model.{DocVec, IdfRow, LinkHit}

/** Pre-partitioned, persisted static side for CONTINUOUS entity linking —
  * the structure that makes a micro-batch's cost independent of corpus size.
  *
  * `linkTopKAuto` re-plans per call: it counts both sides, packs the doc
  * blobs, and shuffles them into scoring cells. In a stream that repeats the
  * full static-corpus pass EVERY micro-batch — at 100 TB the stream would
  * re-shuffle 100 TB per trigger. This index is the batch link's shuffled
  * cells with qBuckets = 1, persisted — the same `Cells` layout — and does
  * that work ONCE:
  *
  *  - a district's knobs are `CellKnobs(1, db)` with db a pure function of
  *    the STATIC side (`Cells.valve`, the same task-memory valve the batch
  *    planner applies), so cell membership never depends on the batch;
  *  - doc blobs and the district idf blobs are packed and hash-partitioned
  *    by cell key once, then persisted partitioner-aware — idf cells
  *    SEPARATELY from doc cells;
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
  *    (partitioner-aware union — still narrow at link time) and, in the same
  *    call, swaps ONLY the tag-1 idf cells for the recomputed table — the
  *    corpus-wide idf drift a delta causes re-ships the per-district term
  *    dictionaries, never the doc payload, and no generation can pair new
  *    docs with a stale idf table;
  *  - [[compactionDue]] reports districts whose accumulated mass has
  *    outgrown the task-memory valve (the LSM-style rebuild trigger).
  *
  * The cells are the batch link's pair-RDD cells, persisted: the
  * `partitionBy` + same-partitioner `cogroup`/union contract carries the
  * partitioning ACROSS queries, which is the reuse the streaming path needs.
  * Linking is the batch path's one body, `Cells.link`, run with the
  * index's persisted cells and partitioner, so indexed output is
  * bit-identical to `linkTopKAuto` (LinkIndexSpec). Queries of a district
  * the index does not hold have no knobs, so it drops them before the
  * shuffle: they have no candidates.
  *
  * Query buckets are fixed at g=1: micro-batch query sets are small, so
  * per-cell pair work `q·maxDocsPerCell` stays bounded by the batch size and
  * doc blobs need NO ×g replication at all. A batch large enough to break
  * that assumption belongs on the batch path.
  */
final class LinkIndex private (
    knobs: Map[String, Linker.CellKnobs],
    val docCountByPk: Map[String, Long],
    val maxDocsPerCell: Int,
    private val docCells: RDD[(Cells.Key, Cells.Blob)],
    private val idfCells: RDD[(Cells.Key, Cells.Blob)],
    // Every RDD this generation chain has persisted — the cells themselves
    // plus any parents contributed by earlier generations. `appended` builds
    // a (never-persisted) union RDD, so unpersisting `docCells` alone would
    // free NOTHING for a derived generation; unpersist() walks this list.
    private val owned: Seq[RDD[_]]) extends Serializable {

  /** Doc buckets per district. */
  val dbByPk: Map[String, Int] = knobs.map { case (pk, k) => pk -> k.dBuckets }

  private def partitioner = docCells.partitioner.get

  /** Districts whose accumulated doc mass exceeds the per-cell valve ×
    * their frozen bucket count — appended growth eventually owes these a
    * compaction (full re-build for just those districts). */
  def compactionDue: Set[String] =
    docCountByPk.iterator.collect {
      case (pk, d) if Cells.valve(d, maxDocsPerCell) > dbByPk(pk) => pk
    }.toSet

  /** Link one (micro-)batch of queries against the indexed corpus. Only the
    * query side shuffles; the static side is read in place. Each cell stamps
    * both sides from its tag-1 idf blobs (input query idfs are ignored), so
    * the only per-trigger movement is the raw query rows. */
  def link(spark: SparkSession, queries: Dataset[DocVec],
      topN: Int): Dataset[LinkHit] = {
    import spark.implicits._
    // Partitioner-aware union of the doc and idf cells: both sides carry
    // the SAME partitioner, so the union is narrow and so is the cogroup's
    // static leg.
    val cells = docCells.union(idfCells)
    assert(cells.partitioner.contains(partitioner),
      "cell union lost its partitioner — static side would re-shuffle")
    spark.createDataset(Cells.link(cells, queries.rdd,
      spark.sparkContext.broadcast(knobs), partitioner, topN))
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

  /** Incremental corpus growth, one call: pack ONLY the delta docs into
    * the existing cell space (new districts get fresh buckets; existing
    * districts keep their frozen bucket count), union partitioner-aware —
    * the existing corpus bytes are never repacked or re-shuffled — and swap
    * the idf cells for `idf`, the table recomputed over the grown corpus.
    * Possible because doc blobs carry no idfs, which a growing corpus would
    * invalidate wholesale; only the per-district DISTINCT-term dictionaries
    * re-ship. Check [[compactionDue]] periodically. The returned index
    * SHARES this index's persisted doc cells — unpersist only the final
    * generation. */
  def appended(spark: SparkSession, delta: Dataset[DocVec],
      idf: Dataset[IdfRow]): LinkIndex = {
    val deltaCounts = LinkIndex.docCounts(delta)
    val newKnobs = knobs ++
      LinkIndex.knobsFor(deltaCounts -- knobs.keys, maxDocsPerCell)
    val newCounts = docCountByPk ++ deltaCounts.iterator.map { case (pk, d) =>
      pk -> (docCountByPk.getOrElse(pk, 0L) + d)
    }
    val deltaCells = LinkIndex.persisted(spark, delta, newKnobs,
      partitioner)(Cells.docCells)
    val newIdfCells = LinkIndex.persisted(spark, idf, newKnobs, partitioner)(
      Cells.idfCells)
    new LinkIndex(newKnobs, newCounts, maxDocsPerCell,
      docCells.union(deltaCells), newIdfCells, owned :+ deltaCells :+ newIdfCells)
  }

  /** Unpersist EVERY cell RDD this generation chain has persisted —
    * including parents shared with indexes this one was derived from via
    * [[appended]], so call only once no generation of the chain
    * is in use (normally: on the last generation). */
  def unpersist(): Unit = {
    owned.foreach(_.unpersist())
    ()
  }
}

object LinkIndex {

  private def docCounts(docs: Dataset[DocVec]): Map[String, Long] =
    Cells.countByPk(docs).map { case (pk, n) => pk -> n(0) }

  /** `CellKnobs(1, db)` per district, db from the memory valve. */
  private def knobsFor(counts: Map[String, Long],
      maxDocsPerCell: Int): Map[String, Linker.CellKnobs] =
    counts.map { case (pk, d) =>
      pk -> Linker.CellKnobs(1, Cells.valve(d, maxDocsPerCell))
    }

  /** One cell family of `rows`, partitioned, persisted and EAGERLY
    * materialized under the session loader (`SessionRdd.action`). */
  private def persisted[T](spark: SparkSession, rows: Dataset[T],
      knobs: Map[String, Linker.CellKnobs], partitioner: Partitioner)(
      cells: (Iterator[T], Map[String, Linker.CellKnobs]) => Iterator[(Cells.Key, Cells.Blob)])
      : RDD[(Cells.Key, Cells.Blob)] = {
    val bknobs = spark.sparkContext.broadcast(knobs)
    val p = rows.rdd.mapPartitions(cells(_, bknobs.value))
      .partitionBy(partitioner).persist(StorageLevel.MEMORY_AND_DISK)
    SessionRdd.action(spark)(p.count())
    p
  }

  /** Build (and EAGERLY materialize) the index: one pass over the static
    * docs to count, one pack + partition shuffle per cell family (docs,
    * idf), persisted — the one-time cost the stream amortizes. The doc
    * blobs carry no idfs; the district idf tables ride as tag-1 blobs into
    * every cell of their district — the same `Cells` layout as the batch
    * path. */
  def build(spark: SparkSession, docs: Dataset[DocVec], idf: Dataset[IdfRow],
      maxDocsPerCell: Int = Cells.MaxDocsPerCell): LinkIndex = {
    val docCountByPk = docCounts(docs)
    val knobs = knobsFor(docCountByPk, maxDocsPerCell)
    val totalCells = knobs.valuesIterator.map(_.dBuckets.toLong).sum
    val para = spark.sparkContext.defaultParallelism.toLong
    val partitioner = new HashPartitioner(
      math.max(1, math.max(para, math.min(totalCells, 4L * para)).toInt))
    val docCells = persisted(spark, docs, knobs, partitioner)(Cells.docCells)
    val idfCells = persisted(spark, idf, knobs, partitioner)(Cells.idfCells)
    new LinkIndex(knobs, docCountByPk, maxDocsPerCell, docCells, idfCells,
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
