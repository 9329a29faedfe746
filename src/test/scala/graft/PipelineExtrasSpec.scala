package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.data.SynthCorpus
import graft.kg.KgPipeline
import graft.model._
import graft.ops.AnnOps
import graft.pipeline.{KgJob, StageRunner}

/** Top-level so MemoryStream/Dataset encoders derive cleanly. */
final case class StreamVec(vec_id: Long, ts: java.sql.Timestamp,
    embedding: Array[Float])

/** Checkpointed-stage runner: resume skips completed stages, metrics carry
  * per-partition lineage, and a resumed run's output is identical to a clean
  * run (SURVEY.md §7.4-6). */
class CheckpointSpec extends AnyFunSuite {
  import GoldenFixtures.{dict => d0}
  private lazy val spark = SparkTestBase.spark

  test("file-driven ingest: stable line-number ids, blank lines dropped, csv variant") {
    val s = spark
    import graft.pipeline.ImportMain
    val txt = Files.createTempFile("graft-corpus", ".txt")
    Files.writeString(txt,
      "山东青岛市南区宁夏路118号\n\n山东青岛市南区宁夏路120号\n")
    val rows = ImportMain.corpusFromFile(s, txt.toString).collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq ==
      Seq("山东青岛市南区宁夏路118号", "山东青岛市南区宁夏路120号"))
    assert(rows.map(_._1).distinct.length == 2)
    val again = ImportMain.corpusFromFile(s, txt.toString).collect().sortBy(_._1)
    assert(rows.toSeq == again.toSeq, "line-number ids must be stable")

    val csv = Files.createTempFile("graft-corpus", ".csv")
    Files.writeString(csv,
      "\"SO1\",\"山东\",\"青岛\",\"市南区\",\"宁夏路118号\",\"10/23/2016 19:15:30\",\"G42\"\njunk\n")
    val crows = ImportMain.corpusFromFile(s, csv.toString).collect()
    assert(crows.length == 1 && crows(0)._2 == "山东青岛市南区宁夏路118号")
  }

  test("resume skips completed stages; outputs identical; metrics written") {
    val s = spark
    import s.implicits._
    val corpus = SynthCorpus.corpus(d0.regions, 300, 4, seed = 21)
    val turns = SynthCorpus.transcripts(d0.regions, 60, 4, seed = 22)
    val bdict = s.sparkContext.broadcast(d0)
    val root1 = Files.createTempDirectory("graft-ckpt1").toString
    val root2 = Files.createTempDirectory("graft-ckpt2").toString

    def inputs() = (s.createDataset(turns).repartition(5),
      s.createDataset(corpus).repartition(5))

    // Clean full run.
    val (t1, c1) = inputs()
    val clean = KgJob.run(s, t1, c1, bdict, 5, root1, "run-a", 5)
      .collect().map(t => (t.subj, t.pred, t.obj,
        java.lang.Double.doubleToLongBits(t.score))).toSet

    // Simulated crash: run only the first two stages, then "die".
    val runner = StageRunner(s, root2, "run-b1")
    val (t2, c2) = inputs()
    runner.stage[DocVec]("docs")(graft.link.Linker.buildDocs(s, c2, bdict))
    runner.stage[IdfRow]("idf") {
      graft.link.Linker.buildIdf(s, s.read.parquet(s"$root2/docs").as[DocVec])
    }
    assert(runner.isComplete("docs") && runner.isComplete("idf"))
    assert(!runner.isComplete("mentions"))
    // A partial, uncommitted stage dir must not count as complete.
    Files.createDirectories(java.nio.file.Paths.get(s"$root2/mentions"))
    Files.writeString(java.nio.file.Paths.get(s"$root2/mentions/part-junk"), "x")
    assert(!runner.isComplete("mentions"))

    // Resume: docs/idf must NOT be recomputed (tracked via stage mtimes).
    val docsSuccessMtime =
      Files.getLastModifiedTime(java.nio.file.Paths.get(s"$root2/docs/_SUCCESS"))
    val (t3, c3) = inputs()
    val resumed = KgJob.run(s, t3, c3, bdict, 5, root2, "run-b2", 5)
      .collect().map(t => (t.subj, t.pred, t.obj,
        java.lang.Double.doubleToLongBits(t.score))).toSet
    assert(Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$root2/docs/_SUCCESS")) == docsSuccessMtime,
      "completed stage was recomputed on resume")

    assert(resumed == clean, "resumed run diverged from clean run")

    // Per-partition lineage/metrics exist for every stage, both runIds.
    val m = StageRunner(s, root2, "x").metrics().collect()
    val stages = m.map(_.stage).toSet
    assert(Set("docs", "idf", "mentions", "hits", "triples")
      .subsetOf(stages), s"stages missing in metrics: $stages")
    assert(m.exists(_.runId == "run-b1") && m.exists(_.runId == "run-b2"))
    assert(m.forall(_.rowsOut >= 0) && m.exists(_.rowsOut > 0))
  }

  private def tripleBits(ts: Array[Triple]) = ts.map(t =>
    (t.subj, t.pred, t.obj, t.partKey,
      java.lang.Double.doubleToLongBits(t.score))).toSet

  private def kgInputs(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    (s.createDataset(SynthCorpus.transcripts(d0.regions, 60, 4, seed = 32))
      .repartition(5),
     s.createDataset(SynthCorpus.corpus(d0.regions, 300, 4, seed = 31))
      .repartition(5))
  }

  test("KgJob.run and KgPipeline.run produce bit-identical triples") {
    val s = spark
    val bdict = s.sparkContext.broadcast(d0)
    val (turns, corpus) = kgInputs(s)
    val root = Files.createTempDirectory("graft-onedag").toString
    val job = tripleBits(
      KgJob.run(s, turns, corpus, bdict, 5, root, "run", 5).collect())
    val r = KgPipeline.run(s, turns, corpus, bdict, 5)
    val pipe = try tripleBits(r.triples.collect()) finally r.unpersistAll()
    assert(job.exists(_._2 == "linkedTo"))
    assert(job == pipe)
  }

  test("a root whose mentions stage carries stamped idfs resumes to identical triples") {
    // Roots written before the link stamped queries in-cell hold
    // idf-stamped mentions; re-stamping them in the cells must be a no-op.
    val s = spark
    import s.implicits._
    val bdict = s.sparkContext.broadcast(d0)
    val (turns, corpus) = kgInputs(s)
    val fresh = tripleBits(KgJob.run(s, turns, corpus, bdict, 5,
      Files.createTempDirectory("graft-fresh").toString, "run", 5).collect())

    val root = Files.createTempDirectory("graft-oldroot").toString
    val runner = StageRunner(s, root, "old")
    val docs = runner.stage[DocVec]("docs") {
      graft.link.Linker.buildDocs(s, graft.link.Linker.dedupCorpus(s, corpus),
        bdict)
    }
    val idf = runner.stage[IdfRow]("idf")(graft.link.Linker.buildIdf(s, docs))
    val mentions = runner.stage[graft.kg.MentionDoc]("mentions") {
      KgPipeline.stampQueryIdf(s, KgPipeline.detectMentions(s, turns, bdict), idf)
    }
    assert(mentions.collect().exists(_.doc.idfs.exists(_ > 0)))
    val resumed = tripleBits(
      KgJob.run(s, turns, corpus, bdict, 5, root, "new", 5).collect())
    assert(fresh.exists(_._2 == "linkedTo"))
    assert(resumed == fresh)
  }
}

/** `.vt` serialization golden — format from `SimilarityServiceTest.java:58-89`
  * with the code-truth '4' street code (`TermType.java:31`). */
class VtFormatSpec extends AnyFunSuite {
  import graft.analyse.VtFormat

  test("serialize golden") {
    val doc = DocVec(11981L, "pk", "1234R",
      Array("山东省", "青岛市", "李沧区", "李沧街道", "北崂路"),
      new Array[Double](5), null, null, "北崂路", null, 0)
    assert(VtFormat.serialize(doc) == "11981$1山东省|2青岛市|3李沧区|4李沧街道|R北崂路")
  }

  test("round-trip with pinned slots") {
    val line = "955163$R和平里中街|N17号|X天|X元|X和"
    val doc = VtFormat.deserialize(line, "pk")
    assert(doc.docId == 955163L)
    assert(doc.road == "和平里中街")
    assert(doc.roadNum == "17号")
    assert(doc.roadNumValue == 17)
    assert(doc.tTypes == "RNXXX")
    assert(VtFormat.serialize(doc) == line)
    assert(VtFormat.deserialize("", "pk") == null)
    assert(VtFormat.deserialize("nodollar", "pk") == null)
  }
}

/** Distributed `.vt` vector-dump IO: round-trip fidelity + partition
  * pruning on the partKey directory column. */
class VtFilesSpec extends AnyFunSuite {
  import GoldenFixtures.{dict => d0}
  private lazy val spark = SparkTestBase.spark

  test(".vt directory round-trips docs (idfs zeroed, as the reference loader)") {
    val s = spark
    import graft.link.Linker
    import graft.sources.VtFiles
    val corpus = SynthCorpus.corpus(d0.regions, 120, 4, seed = 61)
    val bdict = s.sparkContext.broadcast(d0)
    val docs = Linker.buildDocs(s, s.createDataset(corpus)(
      org.apache.spark.sql.Encoders.product[(Long, String)]), bdict)
    val dir = Files.createTempDirectory("graft-vt").toString

    VtFiles.write(docs, dir)
    val back = VtFiles.read(s, dir)

    def key(d: DocVec) = (d.docId, d.partKey, d.tTypes, d.texts.toSeq,
      d.town, d.village, d.road, d.roadNum, d.roadNumValue)
    val orig = docs.collect().map(key).toSet
    val rt = back.collect().map(key).toSet
    assert(rt == orig)
    assert(back.collect().forall(_.idfs.forall(_ == 0.0)),
      ".vt carries no idfs; loader must zero them")

    // Partition pruning: the partKeys argument filters BEFORE the opaque
    // deserializing mapPartitions, so it must reach the scan as a NON-EMPTY
    // PartitionFilter (same contract as the parquet docs table). Checked
    // non-vacuously: the bracket must actually contain the partKey
    // predicate, and the pruned read returns only that key's docs.
    val somePk = docs.head().partKey
    val prunedRead = VtFiles.read(s, dir, Seq(somePk))
    val plan = prunedRead.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*partKey".r.findFirstIn(plan).isDefined,
      s"partKey filter did not land in PartitionFilters:\n$plan")
    val prunedDocs = prunedRead.collect()
    assert(prunedDocs.nonEmpty && prunedDocs.forall(_.partKey == somePk))
  }
}

/** Structured Streaming: the stateless mention stage produces the same
  * results as batch; the sessionizer closes conversations on timeout. */
class StreamingSpec extends AnyFunSuite {
  import GoldenFixtures.{dict => d0}
  private lazy val spark = SparkTestBase.spark

  test("streaming mention detection == batch mention detection") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext

    val turns = SynthCorpus.transcripts(d0.regions, 40, 4, seed = 33)
    val bdict = s.sparkContext.broadcast(d0)

    val input = MemoryStream[Turn]
    val q = KgPipeline
      .detectMentions(s, input.toDS(), bdict)
      .writeStream.format("memory").queryName("m_out")
      .outputMode("append").start()
    try {
      input.addData(turns.take(20))
      q.processAllAvailable()
      input.addData(turns.drop(20))
      q.processAllAvailable()
      val streamed = s.table("m_out").as[graft.kg.MentionDoc].collect()
        .map(m => (m.convId, m.turnIdx, m.start)).toSet
      val batch = KgPipeline
        .detectMentions(s, s.createDataset(turns), bdict).collect()
        .map(m => (m.convId, m.turnIdx, m.start)).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("watermarked tumbling window counts run on a stream") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val turns = SynthCorpus.transcripts(d0.regions, 30, 4, seed = 34)
    val input = MemoryStream[Turn]
    val q = graft.streaming.TranscriptStream.turnCounts(input.toDS())
      .writeStream.format("memory").queryName("w_out")
      .outputMode("append").start()
    try {
      input.addData(turns)
      q.processAllAvailable()
      // Append mode only emits closed windows; push the watermark forward.
      val late = turns.head.copy(
        ts = new java.sql.Timestamp(turns.map(_.ts.getTime).max + 3 * 3600 * 1000L))
      input.addData(Seq(late))
      q.processAllAvailable()
      assert(s.table("w_out").count() > 0)
    } finally q.stop()
  }

  test("streaming exact dedup: cross-batch state == batch min-id dedup under id-ordered replay") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext

    val bdict = s.sparkContext.broadcast(d0)
    val base = SynthCorpus.corpus(d0.regions, 50, 4, seed = 55) // (id, text)
    // Batch 2 re-sends 30 of batch 1's texts under new ids (cross-batch
    // duplicates — the state-store case) plus 10 genuinely new texts.
    val dupes = base.take(30).map { case (_, t) => t }.zipWithIndex
      .map { case (t, i) => (1000L + i, t) }
    val fresh = SynthCorpus.corpus(d0.regions, 60, 4, seed = 55).drop(50)
      .map { case (id, t) => (2000L + id, t + s"新${id}号") } // guaranteed-unique texts

    val input = MemoryStream[(Long, String)]
    val q = graft.ops.DedupOps.exactStream(input.toDF().toDF("id", "text"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(base)
      q.processAllAvailable()
      input.addData(dupes ++ fresh)
      q.processAllAvailable()
      val streamed = s.table("dedup_out").select("id").as[Long].collect().toSet
      // Batch reference on the full union: min id per text. Ids arrive in
      // ascending order across batches, so first-arrival == min-id.
      val all = s.createDataset(base ++ dupes ++ fresh)
      val batch = graft.link.Linker.dedupCorpus(s, all).collect()
        .map(_._1).toSet
      assert(streamed == batch)
      assert((dupes.map(_._1).toSet intersect streamed).isEmpty,
        "cross-batch duplicates must be dropped by state")
      assert(fresh.map(_._1).toSet subsetOf streamed)
    } finally q.stop()
  }

  test("streaming link vs static corpus == batch link (triples across micro-batches)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext

    val bdict = s.sparkContext.broadcast(d0)
    // Static historical side, prepared once (what a deployment keeps hot).
    val corpus = s.createDataset(SynthCorpus.corpus(d0.regions, 300, 4, seed = 91))
    val docs = graft.link.Linker.buildDocs(s, corpus, bdict).persist()
    val idf = graft.link.Linker.buildIdf(s, docs).persist()
    val turns = SynthCorpus.transcripts(d0.regions, 60, 4, seed = 92)

    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, String, String, String, Long)]())
    val ckpt = Files.createTempDirectory("graft-linkstream").toString
    val input = MemoryStream[Turn]
    // Materialize the test's own caches NOW: a lazy Dataset persist only
    // registers its RDD at first use, which would otherwise happen inside
    // the stream and masquerade as an index leak below.
    docs.count(); idf.count()
    val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
    val h = graft.streaming.TranscriptStream.linkStream(
        s, input.toDS(), bdict, docs, idf, topN = 3, ckpt) { (triples, _) =>
      triples.collect().foreach(t => got.add(
        (t.subj, t.pred, t.obj, t.partKey,
          java.lang.Double.doubleToLongBits(t.score))))
      ()
    }
    try {
      input.addData(turns.take(25))
      h.query.processAllAvailable()
      input.addData(turns.drop(25))
      h.query.processAllAvailable()
    } finally h.close()
    // close() must release the persisted static-side index in full — a
    // long-lived session would otherwise strand one packed corpus copy per
    // stream invocation.
    val leakedIdx = s.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leakedIdx.isEmpty, s"linkStream index leaked blocks: $leakedIdx")
    import scala.jdk.CollectionConverters._
    val streamed = got.asScala.toSet

    // Batch reference: identical stages over ALL turns at once. Mention
    // triples are per-turn and link top-k is per-query vs the static side,
    // so the micro-batch union must equal the one-shot batch exactly —
    // including bit-identical scores (in-cell idf stamping, pinned ties).
    val mentions =
      graft.kg.KgPipeline.detectMentions(s, s.createDataset(turns), bdict)
    val hits = graft.link.Linker.linkTopKAuto(s, mentions.map(_.doc), docs, 3,
      idf)
    val batch = graft.kg.KgPipeline.mentionTriples(s, mentions, bdict)
      .union(graft.kg.KgPipeline.linkTriples(s, mentions, hits))
      .collect()
      .map(t => (t.subj, t.pred, t.obj, t.partKey,
        java.lang.Double.doubleToLongBits(t.score))).toSet
    assert(batch.nonEmpty && batch.exists(_._2 == "linkedTo"))
    assert(streamed == batch)
    docs.unpersist(); idf.unpersist()
  }

  test("continuous growth loop: index appended between stream incarnations == batch per epoch") {
    // The production shape of the reference's import-loop + our stream: ONE
    // caller-owned LinkIndex serves stream incarnation #1, is grown IN
    // PLACE (appended delta docs + refreshed idf cells — historical bytes
    // never repacked), then serves incarnation #2. Each epoch's triples
    // must equal the one-shot batch link against that epoch's corpus,
    // bit-identical scores included.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext

    val bdict = s.sparkContext.broadcast(d0)
    val corpusRows = SynthCorpus.corpus(d0.regions, 300, 4, seed = 61)
    val (first, delta) = corpusRows.splitAt(220)
    def docsOf(rows: Seq[(Long, String)]) =
      graft.link.Linker.buildDocs(s, s.createDataset(rows).repartition(5),
        bdict)
    val turns = SynthCorpus.transcripts(d0.regions, 50, 4, seed = 62)
    val (t1, t2) = turns.splitAt(25)

    def key(t: graft.model.Triple) = (t.subj, t.pred, t.obj, t.partKey,
      java.lang.Double.doubleToLongBits(t.score))
    def runEpoch(index: graft.link.LinkIndex, rows: Seq[Turn]) = {
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(String, String, String, String, Long)]())
      val ckpt = Files.createTempDirectory("graft-grow").toString
      val input = MemoryStream[Turn]
      val q = graft.streaming.TranscriptStream.linkStreamWith(
          s, input.toDS(), bdict, index, 3, ckpt) { (triples, _) =>
        triples.collect().foreach(t => got.add(key(t))); ()
      }
      try { input.addData(rows); q.processAllAvailable() } finally q.stop()
      import scala.jdk.CollectionConverters._
      got.asScala.toSet
    }
    def batchRef(rows: Seq[Turn], corpus: Seq[(Long, String)]) = {
      val docs = docsOf(corpus)
      val idf = graft.link.Linker.buildIdf(s, docs)
      val mentions =
        graft.kg.KgPipeline.detectMentions(s, s.createDataset(rows), bdict)
      val hits = graft.link.Linker.linkTopKAuto(s, mentions.map(_.doc), docs,
        3, idf)
      graft.kg.KgPipeline.mentionTriples(s, mentions, bdict)
        .union(graft.kg.KgPipeline.linkTriples(s, mentions, hits))
        .collect().map(key).toSet
    }

    val idf0 = graft.link.Linker.buildIdf(s, docsOf(first))
    val gen0 = graft.link.LinkIndex.build(s, docsOf(first), idf0)
    val epoch1 = runEpoch(gen0, t1)
    assert(epoch1 == batchRef(t1, first))

    val gen1 = gen0.appended(s, docsOf(delta),
      graft.link.Linker.buildIdf(s, docsOf(corpusRows)))
    val epoch2 = runEpoch(gen1, t2)
    assert(epoch2 == batchRef(t2, corpusRows))
    assert(epoch2.exists(_._2 == "linkedTo"))
    gen1.unpersist() // frees the whole generation chain (owned walk)
  }

  test("streaming near-dup vs static corpus == batch LSH join; exact dups always found") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext

    val dim = 16
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    val corpusRows = (0L until 40L).map(i => (i, vec(i.toInt)))
    val corpus = s.createDataset(corpusRows).toDF("vec_id", "embedding")

    import org.apache.spark.sql.functions._
    val t0 = new java.sql.Timestamp(1700000000000L)
    // 10 exact duplicates of corpus vectors (recall 1 by construction:
    // identical vectors share every bucket) + 10 fresh random vectors.
    val streamRows = (0L until 10L).map(i => StreamVec(100 + i, t0, vec(i.toInt))) ++
      (0L until 10L).map(i => StreamVec(200 + i, t0, vec(9000 + i.toInt)))

    val input = MemoryStream[StreamVec]
    val q = graft.ops.DedupOps.embeddingNearDupStream(
        input.toDF(), corpus, threshold = 0.9, dim = dim, bits = 4, tables = 4)
      .writeStream.format("memory").queryName("nd_out")
      .outputMode("append").start()
    try {
      input.addData(streamRows.take(12))
      q.processAllAvailable()
      input.addData(streamRows.drop(12))
      q.processAllAvailable()
      val streamed = s.table("nd_out").select("s_id", "c_id").as[(Long, Long)]
        .collect().toSet

      // Batch reference: identical keying + exact-cosine verify + distinct.
      val batchStream = s.createDataset(
        streamRows.map(r => (r.vec_id, r.embedding))).toDF("vec_id", "embedding")
      val planes = AnnOps.hyperplanes(dim, 4 * 4)
      def keyed(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
        df.select(col("vec_id").as(a), col("embedding").as(b),
          explode(array((0 until 4).map(t =>
            AnnOps.lshBucket(col("embedding"), planes.slice(t * 4, (t + 1) * 4)) +
              lit(t.toLong << 4)): _*)).as("bucket"))
      val batch = keyed(batchStream, "s_id", "s_v")
        .join(keyed(corpus, "c_id", "c_v"), "bucket")
        .select(col("s_id"), col("c_id"),
          round(AnnOps.cosine(col("s_v"), col("c_v")), 4).as("cos"))
        .where(col("cos") >= 0.9)
        .select("s_id", "c_id").distinct()
        .as[(Long, Long)].collect().toSet

      assert(streamed == batch)
      // Every exact duplicate must be found (cos = 1, same buckets).
      val exactPairs = (0L until 10L).map(i => (100 + i, i)).toSet
      assert(exactPairs subsetOf streamed)
    } finally q.stop()
  }
}
