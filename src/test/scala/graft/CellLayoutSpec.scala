package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.link.{Cells, DocBlob, IdfBlob, Scoring}
import graft.link.Linker.CellKnobs
import graft.model.{DocVec, IdfRow}

/** The cell layout every shuffled link route shares (`Cells`), checked as
  * pure iterator maps over random knob maps and inputs — no Spark session.
  * A district's knobs `CellKnobs(g, db)` (one cell without an entry) must
  * put each doc in exactly g cells of its district, each idf row in all
  * g·db, and each query in the db cells of qBucket `docId mod g`. */
class CellLayoutSpec extends AnyFunSuite {

  private def doc(id: Long, pk: String): DocVec =
    DocVec(id, pk, "", Array.empty, Array.empty, null, null, null, null, 0)

  private def shape(knobs: Map[String, CellKnobs], pk: String): (Int, Int) =
    knobs.get(pk).fold((1, 1))(k => (k.qBuckets, k.dBuckets))

  private def allCells(knobs: Map[String, CellKnobs], pk: String): Set[Cells.Key] = {
    val (g, db) = shape(knobs, pk)
    (for { qb <- 0 until g; dbk <- 0 until db } yield (pk, qb, dbk)).toSet
  }

  test("docs, idf rows and queries land in their district's cells") {
    for (seed <- 1 to 40) {
      val rnd = new Random(seed)
      val pks = (0 until 1 + rnd.nextInt(5)).map(i => s"pk$i")
      // Some districts have no entry: they are one cell.
      val knobs = pks.filter(_ => rnd.nextInt(4) > 0).map { pk =>
        pk -> CellKnobs(1 + rnd.nextInt(6), 1 + rnd.nextInt(4))
      }.toMap
      def pkOf() = pks(rnd.nextInt(pks.length))
      // Several input partitions, some past one blob per district.
      var nextId = 0L
      val partitions = Seq.fill(1 + rnd.nextInt(3)) {
        Seq.fill(rnd.nextInt(700)) { nextId += 1; doc(nextId * 7919L, pkOf()) }
      }
      val docs = partitions.flatten

      // Docs: exactly g cells each, one dBucket, all qBuckets.
      val docCells = new scala.collection.mutable.HashMap[Long, List[Cells.Key]]()
      partitions.foreach { part =>
        Cells.docCells(part.iterator, knobs).foreach { case (key, (tag, bytes)) =>
          assert(tag == 0)
          val sides = scala.collection.mutable.ArrayBuffer.empty[Scoring.Side]
          DocBlob.unpackSides(bytes, sides)
          sides.foreach(s => docCells(s.docId) = key :: docCells.getOrElse(s.docId, Nil))
        }
      }
      assert(docCells.keySet == docs.map(_.docId).toSet, s"seed $seed: docs lost")
      docs.foreach { d =>
        val (g, db) = shape(knobs, d.partKey)
        val keys = docCells(d.docId)
        assert(keys.size == g && keys.toSet.size == g, s"seed $seed doc ${d.docId}")
        assert(keys.forall(k => k._1 == d.partKey && k._3 >= 0 && k._3 < db))
        assert(keys.map(_._3).toSet.size == 1)
        assert(keys.map(_._2).toSet == (0 until g).toSet)
      }

      // Idf rows: every cell of the district, tag 1.
      val idf = (0 until rnd.nextInt(20000)).map(i => IdfRow(pkOf(), s"t$i", 1, 1.0))
      val idfCells = new scala.collection.mutable.HashMap[String, Set[Cells.Key]]()
      Cells.idfCells(idf.iterator, knobs).foreach { case (key, (tag, bytes)) =>
        assert(tag == 1)
        val m = new java.util.HashMap[String, java.lang.Double]()
        IdfBlob.unpackInto(bytes, m)
        m.keySet().forEach(t => idfCells(t) = idfCells.getOrElse(t, Set.empty) + key)
      }
      idf.foreach { r =>
        val want = allCells(knobs, r.partKey)
        val got = idfCells(r.termKey)
        assert(got == want, s"seed $seed idf ${r.termKey}")
      }

      // Queries: db cells, qBucket = docId mod g.
      val queries = Seq.fill(rnd.nextInt(200))(doc(rnd.nextLong(), pkOf()))
      val qCells = Cells.queryCells(queries.iterator, knobs).toSeq
        .groupBy(_._2.docId).map { case (id, rows) => id -> rows.map(_._1) }
      queries.foreach { q =>
        val (g, db) = shape(knobs, q.partKey)
        val qb = java.lang.Long.remainderUnsigned(q.docId, g).toInt
        assert(qCells(q.docId).toSet == (0 until db).map(dbk => (q.partKey, qb, dbk)).toSet)
        assert(qCells(q.docId).size == db, s"seed $seed query ${q.docId}")
      }
    }
  }

  test("the memory valve is the least bucket count that fits every cell") {
    val rnd = new Random(7)
    for (_ <- 1 to 1000) {
      val m = 1 + rnd.nextInt(100000)
      val d = 1L + (rnd.nextLong() & 0xffffffffL)
      val db = Cells.valve(d, m)
      assert(db.toLong * m >= d && (db - 1).toLong * m < d, s"d=$d m=$m db=$db")
    }
    assert(Cells.valve(0L, 8) == 1)
  }
}
