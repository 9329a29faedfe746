package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.data.SynthCorpus
import graft.link.{LinkIndex, Linker}

/** The streaming static-side index: bit-identity with the batch link across
  * single-/multi-bucket shapes and grow-in-place, plus the locality property
  * the index exists for — a micro-batch link must NOT re-shuffle the corpus.
  */
class LinkIndexSpec extends AnyFunSuite {
  import GoldenFixtures.{dict => d0}

  private lazy val spark = SparkTestBase.spark

  private def hitsKey(hs: Array[graft.model.LinkHit]) =
    hs.map(h => (h.queryId, h.docId, h.rank,
      java.lang.Double.doubleToLongBits(h.similarity))).toSet

  test("indexed link is bit-identical to linkTopKAuto (db>1)") {
    val s = spark
    import s.implicits._
    val corpusRows = SynthCorpus.corpus(d0.regions, 400, 4, seed = 17)
    val bdict = s.sparkContext.broadcast(d0)
    val docs0 = Linker.buildDocs(s, s.createDataset(corpusRows).repartition(6), bdict)
    val idf = Linker.buildIdf(s, docs0)
    val docs = Linker.attachIdf(s, docs0, idf)

    val base = hitsKey(Linker.linkTopKAuto(s, docs0, docs0, 5, idf).collect())
    assert(base.nonEmpty)

    // Valve forced low so every district splits into multiple doc buckets
    // and the partial-topk merge actually runs.
    val index = LinkIndex.build(s, docs0, idf, maxDocsPerCell = 8)
    assert(index.dbByPk.valuesIterator.exists(_ > 1))
    assert(hitsKey(index.link(s, docs0, 5).collect()) == base)
    // Second batch against the SAME index: identical again (reuse path).
    assert(hitsKey(index.link(s, docs0, 5).collect()) == base)
    // Queries that already carry idfs are re-stamped in-cell to the same bits.
    assert(hitsKey(index.link(s, docs, 5).collect()) == base)
    index.unpersist()
  }

  test("incremental append + idf refresh == full rebuild == batch auto, bit-identical") {
    val s = spark
    import s.implicits._
    val corpusRows = SynthCorpus.corpus(d0.regions, 400, 4, seed = 17)
    val (first, delta) = corpusRows.splitAt(300)
    val bdict = s.sparkContext.broadcast(d0)
    def docsOf(rows: Seq[(Long, String)]) =
      Linker.buildDocs(s, s.createDataset(rows).repartition(6), bdict)
    val docsAll0 = docsOf(corpusRows)
    val idfAll = Linker.buildIdf(s, docsAll0)
    val queries = Linker.attachIdf(s, docsAll0, idfAll)

    val base = hitsKey(
      Linker.linkTopKAuto(s, queries, docsAll0, 5, idfAll)
        .collect())
    assert(base.nonEmpty)

    // Grow-in-place: index the first 300 docs with their own idf, append
    // the 100-doc delta (existing corpus bytes untouched) together with the
    // full-corpus idf table. Must equal an index built from scratch on the
    // full corpus AND the batch auto link, bit for bit.
    val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
    val idf300 = Linker.buildIdf(s, docsOf(first))
    val gen0 = LinkIndex.build(s, docsOf(first), idf300)
    val gen1 = gen0.appended(s, docsOf(delta), idfAll)
    assert(hitsKey(gen1.link(s, queries, 5).collect()) == base)

    val rebuilt = LinkIndex.build(s, docsAll0, idfAll)
    assert(hitsKey(rebuilt.link(s, queries, 5).collect()) == base)

    // The valve bookkeeping survives the append.
    assert(gen1.docCountByPk.values.sum == rebuilt.docCountByPk.values.sum)
    assert(gen1.compactionDue.isEmpty) // default valve is far from full here
    // unpersist() must free EVERY generation's cells — including the delta
    // and base cells a derived generation's union RDD shares (a union is
    // never itself persisted, so unpersisting it alone would leak both).
    rebuilt.unpersist(); gen1.unpersist()
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"index cells leaked in the block manager: $leaked")
    gen0.unpersist() // idempotent: gen1 already owned gen0's cells
  }

  test("a micro-batch link does not re-shuffle the static corpus") {
    val s = spark
    import s.implicits._
    val corpusRows = SynthCorpus.corpus(d0.regions, 400, 4, seed = 29)
    val bdict = s.sparkContext.broadcast(d0)
    val docs0 = Linker.buildDocs(s, s.createDataset(corpusRows).repartition(6), bdict)
    val idf = Linker.buildIdf(s, docs0)
    val docs = Linker.attachIdf(s, docs0, idf)
    val queries = docs.limit(20).persist()
    assert(queries.count() == 20)

    val shuffleWrite = new java.util.concurrent.atomic.LongAdder
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics
        if (m != null) shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def measured(f: => Unit): Long = {
      shuffleWrite.reset()
      s.sparkContext.addSparkListener(listener)
      try { f; Thread.sleep(2000) } // listener bus drains asynchronously
      finally s.sparkContext.removeSparkListener(listener)
      shuffleWrite.sum()
    }

    val index = LinkIndex.build(s, docs0, idf)
    val perBatch = measured {
      index.link(s, queries, 5).collect(); ()
    }
    val perAuto = measured {
      Linker.linkTopKAuto(s, queries, docs0, 5, idf).collect(); ()
    }
    // The auto path shuffles the packed corpus every call; the indexed path
    // shuffles only the 20 queries (plus the hit rows). An order of
    // magnitude is the conservative gate — the real ratio scales with
    // corpus size.
    assert(perBatch * 10 <= perAuto,
      s"indexed link shuffled $perBatch bytes vs auto $perAuto")
    index.unpersist()
    queries.unpersist()
    ()
  }
}
