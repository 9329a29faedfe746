package graft.perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Dataset, Row}

import graft.model.Triple

/** Order-independent digest of a result: the wrapping sum of a 64-bit hash
  * per row, plus the row count. Addition commutes, so neither row order nor
  * partitioning changes it. Doubles enter rounded to 9 decimals, the
  * precision the library quantizes scores to. */
object Digest {

  private def h32(seed: Int, fields: Seq[Any]): Int = {
    var h = seed
    fields.foreach { f =>
      val x = f match {
        case null      => 0
        case s: String => MurmurHash3.stringHash(s, seed)
        case d: Double => java.lang.Long.hashCode(math.round(d * 1e9))
        case l: Long   => java.lang.Long.hashCode(l)
        case i: Int    => i
        case o         => MurmurHash3.stringHash(o.toString, seed)
      }
      h = MurmurHash3.mix(h, x)
    }
    MurmurHash3.finalizeHash(h, fields.length)
  }

  def rowHash(fields: Seq[Any]): Long =
    (h32(0x5bd1e995, fields).toLong << 32) | (h32(0x2545f491, fields) & 0xffffffffL)

  /** (count, wrapping hash sum) — the combine step the Spark digests use. */
  def combine(parts: Iterable[(Long, Long)]): (Long, Long) =
    parts.foldLeft((0L, 0L)) { case ((n, s), (pn, ps)) => (n + pn, s + ps) }

  def format(d: (Long, Long)): String = f"${d._1}%d:${d._2}%016x"

  def ofRows(rows: Iterator[Seq[Any]]): (Long, Long) = {
    var n = 0L
    var s = 0L
    rows.foreach { r => n += 1; s += rowHash(r) }
    (n, s)
  }

  /** Digest of (subj, pred, obj, round(score, 9)) over a triple table. */
  def triples(ds: Dataset[Triple]): String = {
    import ds.sparkSession.implicits._
    val parts = ds.mapPartitions { it =>
      Iterator.single(ofRows(it.map(t => Seq(t.subj, t.pred, t.obj, t.score))))
    }.collect()
    format(combine(parts))
  }

  /** Digest over every column of a DataFrame. */
  def frame(df: DataFrame): String = {
    val parts = df.rdd.mapPartitions { it =>
      Iterator.single(ofRows(it.map((r: Row) => r.toSeq)))
    }.collect()
    format(combine(parts))
  }
}

/** The benchmark's own checks of its pure arithmetic; exits non-zero on the
  * first failure. Run through `perfbench/tests/test_perfbench.py`. */
object SelfTest {
  private def check(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map(i => Seq[Any](s"conv-$i#${i % 7}",
      if (i % 3 == 0) "linkedTo" else "hasCity", s"addr:${rnd.nextInt(90)}",
      rnd.nextDouble()))
    val base = Digest.format(Digest.ofRows(rows.iterator))
    check("digest is independent of row order",
      Digest.format(Digest.ofRows(rnd.shuffle(rows).iterator)) == base)
    val parts = rows.grouped(37).map(p => Digest.ofRows(p.iterator)).toSeq
    check("digest is independent of partitioning",
      Digest.format(Digest.combine(rnd.shuffle(parts))) == base)
    check("digest sees a changed score",
      Digest.format(Digest.ofRows(rows.updated(5,
        rows(5).updated(3, rows(5)(3).asInstanceOf[Double] + 1e-8)).iterator)) != base)
    check("digest ignores noise below 9 decimals",
      Digest.format(Digest.ofRows(rows.updated(5,
        rows(5).updated(3, math.round(rows(5)(3).asInstanceOf[Double] * 1e9) / 1e9 + 1e-13)).iterator)) ==
      Digest.format(Digest.ofRows(rows.updated(5,
        rows(5).updated(3, math.round(rows(5)(3).asInstanceOf[Double] * 1e9) / 1e9)).iterator)))
    check("digest sees a dropped row",
      Digest.format(Digest.ofRows(rows.tail.iterator)) != base)
    check("digest sees a duplicated row",
      Digest.format(Digest.ofRows((rows :+ rows.head).iterator)) != base)
  }
}
