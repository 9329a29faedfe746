package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.analyse.DocAnalyser
import graft.data.SynthCorpus
import graft.kg.KgPipeline
import graft.link.{Cells, Linker, Scoring}
import graft.model._

/** Differential oracle (SURVEY.md §5.2): the distributed Dataset pipeline must
  * produce EXACTLY the result of a straight-line single-JVM implementation of
  * the reference semantics (interpret → per-partition IDF → weighted cosine →
  * bounded top-k) on the same deterministic synthetic corpus. This evidences
  * triples P/R ≈ 1.0 (target ≥ 0.95) without MySQL/Dubbo.
  */
class KgPipelineSpec extends AnyFunSuite {
  import GoldenFixtures.{dict => d0}

  private lazy val spark = SparkTestBase.spark
  private lazy val regions = d0.regions
  private lazy val interp = GoldenFixtures.interpreter

  private val TopN = 5

  // --- single-JVM oracle -------------------------------------------------

  private def oracleDocs(corpus: Seq[(Long, String)]): Seq[DocVec] = {
    val visitor = interp.newVisitor()
    // Ingest dedup (keep min id per text), mirroring the pipeline.
    val deduped = corpus.groupBy(_._2).map { case (t, rs) =>
      (rs.map(_._1).min, t)
    }.toSeq.sortBy(_._1)
    deduped.flatMap { case (id, text) =>
      val addr = interp.interpret(text, visitor)
      if (addr == null || !addr.division.hasCity || !addr.division.hasDistrict) None
      else {
        val pk = interp.partKey(addr)
        if (pk == null) None else Some(DocAnalyser.analyse(id, pk, addr))
      }
    }
  }

  /** Reference IDF (`SimilarityComputer.java:580-599`): occurrence counts over
    * all docs of the partition, idf=ln(n/(df+1)) clamped, numeric/ASCII→2. */
  private def oracleIdf(docs: Seq[DocVec]): Map[String, Map[String, Double]] = {
    docs.groupBy(_.partKey).map { case (pk, ds) =>
      val df = mutable.Map.empty[String, Int]
      ds.foreach(d => (0 until d.nTerms).foreach { i =>
        val k = DocAnalyser.idfKeyAt(d, i)
        df(k) = df.getOrElse(k, 0) + 1
      })
      val n = ds.size.toDouble
      pk -> df.iterator.map { case (k, c) =>
        val idf =
          if (graft.util.Str.isNumericChars(k) || graft.util.Str.isAnsiChars(k)) 2.0
          else math.max(0.0, math.log(n / (c + 1)))
        k -> idf
      }.toMap
    }
  }

  private def stamp(doc: DocVec, idf: Map[String, Map[String, Double]]): DocVec = {
    val m = idf.getOrElse(doc.partKey, Map.empty)
    doc.copy(idfs = Array.tabulate(doc.nTerms) { i =>
      m.getOrElse(DocAnalyser.idfKeyAt(doc, i), DocAnalyser.MissingIdf)
    })
  }

  private def oracleTopK(q: DocVec, docs: Seq[DocVec]): Seq[(Long, Double)] =
    docs.filter(_.partKey == q.partKey)
      .map(d => (d.docId, Scoring.score(q, d)))
      .filter(_._2 > 0)
      // Linker.TopK's public ordering contract: sim quantized to 1e-6
      // (half-up) desc, then docId asc.
      .sortBy { case (id, s) => (-math.floor(s * 1e6 + 0.5).toLong, id) }
      .take(TopN)

  // --- the test ----------------------------------------------------------

  test("distributed pipeline == single-JVM oracle (triples P/R = 1.0, sims to 1e-12)") {
    val s = spark
    import s.implicits._

    val corpusRows = SynthCorpus.corpus(regions, 800, 6, seed = 42)
    val turnRows = SynthCorpus.transcripts(regions, 150, 6, seed = 7)

    val bdict = s.sparkContext.broadcast(d0)
    val corpusDs = s.createDataset(corpusRows).repartition(7)
    val turnsDs = s.createDataset(turnRows).repartition(5)

    val run = KgPipeline.run(s, turnsDs, corpusDs, bdict, TopN)
    val (mentions, triples, hits) = (run.mentions, run.triples, run.hits)

    // Oracle side.
    val oDocs = oracleDocs(corpusRows)
    val oIdf = oracleIdf(oDocs)
    val oDocsIdf = oDocs.map(stamp(_, oIdf))
    val visitor = interp.newVisitor()
    val oMentions = turnRows.flatMap { t =>
      val hit = KgPipeline.detectMention(t.text, interp, visitor)
      if (hit == null) None
      else {
        val (start, addr) = hit
        val pk = interp.partKey(addr)
        if (pk == null) None
        else {
          val qid = KgPipeline.queryId(t.conv_id, t.turn_idx)
          Some((t.conv_id, t.turn_idx, start, interp.toInterpreted(qid, addr),
            stamp(DocAnalyser.analyse(qid, pk, addr), oIdf)))
        }
      }
    }
    assert(oMentions.nonEmpty, "fixture produced no mentions")

    // 1. Mentions identical.
    val gotMentions = mentions.collect()
      .map(m => (m.convId, m.turnIdx, m.start, m.addr)).toSet
    val expMentions = oMentions.map(m => (m._1, m._2, m._3, m._4)).toSet
    assert(gotMentions == expMentions)

    // 2. Link hits identical (ids, ranks; similarities to 1e-12).
    val gotHits = hits.collect()
      .groupBy(_.queryId)
      .view.mapValues(_.sortBy(_.rank).map(h => (h.docId, h.similarity)).toSeq)
      .toMap
    var checkedHits = 0
    oMentions.foreach { case (_, _, _, _, qdoc) =>
      val exp = oracleTopK(qdoc, oDocsIdf)
      val got = gotHits.getOrElse(qdoc.docId, Seq.empty)
      assert(got.map(_._1) == exp.map(_._1),
        s"query ${qdoc.docId}: ids ${got.map(_._1)} != ${exp.map(_._1)}")
      got.zip(exp).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-12, s"sim $gs vs $es")
      }
      checkedHits += got.size
    }
    assert(checkedHits > 0, "no link hits produced")
    assert(gotHits.keySet == oMentions.map(_._5.docId).toSet
      .intersect(gotHits.keySet) && gotHits.keySet.subsetOf(
        oMentions.map(_._5.docId).toSet))

    // 3. Triples: exact set equality against oracle-derived triples.
    val expTriples = oMentions.flatMap { case (convId, turnIdx, _, a, qdoc) =>
      val subj = s"$convId#$turnIdx"
      val pk = qdoc.partKey
      val base = Seq.newBuilder[Triple]
      def reg(pred: String, id: Long): Unit =
        if (id > 0) base += Triple(subj, pred, s"region:$id", 0.0, pk)
      reg("hasProvince", a.pid); reg("hasCity", a.cid); reg("hasDistrict", a.did)
      reg("hasStreet", a.streetId); reg("hasTown", a.townId); reg("hasVillage", a.villageId)
      if (a.road.nonEmpty) base += Triple(subj, "hasRoad", a.road, 0.0, pk)
      if (a.roadNum.nonEmpty) base += Triple(subj, "hasRoadNum", a.roadNum, 0.0, pk)
      if (a.buildingNum.nonEmpty) base += Triple(subj, "hasBuildingNum", a.buildingNum, 0.0, pk)
      if (a.text.nonEmpty) base += Triple(subj, "residualText", a.text, 0.0, pk)
      base.result() ++ oracleTopK(qdoc, oDocsIdf).map { case (docId, sim) =>
        Triple(subj, "linkedTo", s"addr:$docId", sim, pk)
      }
    }.toSet

    val gotTriples = triples.collect().toSet
    // similarity is a Double inside Triple; compare with tolerance by aligning keys
    def key(t: Triple) = (t.subj, t.pred, t.obj, t.partKey)
    assert(gotTriples.map(key) == expTriples.map(key),
      s"triple key sets differ: extra=${(gotTriples.map(key) -- expTriples.map(key)).take(5)} " +
      s"missing=${(expTriples.map(key) -- gotTriples.map(key)).take(5)}")
    val expByKey = expTriples.map(t => key(t) -> t.score).toMap
    gotTriples.foreach(t => assert(math.abs(t.score - expByKey(key(t))) < 1e-12))
    run.unpersistAll() // shared test session: honor the KgRun cache contract
  }

  test("linkTopK is bit-identical for any bucket/blob knobs") {
    val s = spark
    import s.implicits._
    val corpusRows = SynthCorpus.corpus(regions, 400, 4, seed = 17)
    val bdict = s.sparkContext.broadcast(d0)
    val docs = Linker.buildDocs(s, s.createDataset(corpusRows).repartition(6), bdict)
    val idf = Linker.buildIdf(s, docs)
    def key(hs: Dataset[LinkHit]) = hs.collect()
      .map(h => (h.queryId, h.docId, h.rank,
        java.lang.Double.doubleToLongBits(h.similarity))).toSet
    // Use corpus docs themselves as queries (self-link); one cell per
    // district is the base every knob setting must reproduce.
    val pks = docs.collect().map(_.partKey).distinct.sorted
    // A hand-built plan: `knobs` name every district it links.
    def routed(knobs: Map[String, Linker.CellKnobs]) =
      key(Linker.linkPlanned(s, Linker.RoutePlan(Map.empty, Map.empty,
        knobs), docs, docs, 5, idf))
    def run(qb: Int, db: Int) =
      routed(pks.map(_ -> Linker.CellKnobs(qb, db)).toMap)
    val base = run(1, 1)
    assert(base.nonEmpty)
    assert(run(24, 1) == base)
    assert(run(7, 3) == base)

    // Per-partKey knob overrides agree (mixed g/db across districts).
    val mixed = pks.zipWithIndex.map { case (pk, i) =>
      pk -> Linker.CellKnobs(1 + (i % 5), 1 + (i % 3))
    }.toMap
    assert(routed(mixed) == base)

    // Mixed merge: half the districts are one cell, the rest split their
    // docs (db > 1), so final and partial lists share one merge.
    val (oneCell, cellHalf) = pks.splitAt(pks.length / 2)
    assert(oneCell.nonEmpty && cellHalf.nonEmpty)
    assert(routed((oneCell.map(_ -> Linker.CellKnobs(1, 1)) ++
      cellHalf.map(_ -> Linker.CellKnobs(3, 2))).toMap) == base)

    // Auto mode (counted stats → knobs) agrees, with thresholds forced low
    // enough that the 2-D blocking and the memory valve exercise on this
    // small input.
    val plan = Linker.planRoutes(Linker.countStats(s, docs, docs),
      s.sparkContext.defaultParallelism, targetPairsPerCell = 64,
      maxDocsPerCell = 32)
    assert(Cells.splitsDocs(plan.knobs), plan.knobs)
    assert(key(Linker.linkPlanned(s, plan, docs, docs, 5, idf)) == base)
  }

  test("co-mention adjacency: edge weights count distinct conversations") {
    val s = spark
    import s.implicits._
    val dummyAddr = graft.model.InterpretedAddress(0L, "", "", 0, 0, 0, 0, 0,
      0, "", "", "", matched = true)
    val dummyDoc = graft.model.DocVec(0L, "pk", "", Array.empty,
      Array.empty, null, null, null, null, 0)
    def m(qid: Long, conv: String) =
      graft.kg.MentionDoc(qid, conv, 0, 0, dummyAddr, dummyDoc)
    // conv A links entities {1, 2}; conv B links {1, 2, 3}; a rank-2 hit and
    // a duplicate (same conv, same entity) must not add weight.
    val mentions = s.createDataset(Seq(
      m(10L, "A"), m(11L, "A"), m(20L, "B"), m(21L, "B"), m(22L, "B"),
      m(23L, "B")))
    val hits = s.createDataset(Seq(
      LinkHit(10L, 1L, 0.9, 1), LinkHit(11L, 2L, 0.9, 1),
      LinkHit(20L, 1L, 0.9, 1), LinkHit(21L, 2L, 0.9, 1),
      LinkHit(22L, 3L, 0.9, 1),
      LinkHit(23L, 1L, 0.9, 1), // duplicate (B, 1): distinct'd away
      LinkHit(10L, 7L, 0.5, 2))) // rank 2: excluded at topRank=1
    val edges = graft.kg.KgPipeline.coMentionEdges(s, mentions, hits, topRank = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(edges == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L), edges)
  }

  test("negative samples: deterministic, filtered, per-edge varied") {
    val s = spark
    import s.implicits._
    val hits = s.createDataset(Seq(
      LinkHit(100L, 1L, 0.9, 1), LinkHit(100L, 2L, 0.8, 1),
      LinkHit(200L, 2L, 0.9, 1), LinkHit(300L, 3L, 0.9, 1),
      LinkHit(300L, 9L, 0.5, 2))) // rank 2: not a positive, not in pool
    def run() = graft.kg.KgPipeline.negativeSamples(s, hits, k = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val out = run()
    assert(run() == out, "corruption must be a pure function of the edge")
    // Naive replay: same seed/hash/pool-index arithmetic.
    val p = graft.ops.DedupOps.HashP
    val params = graft.ops.DedupOps.minHashParams(4)
    val pos = Set((100L, 1L), (100L, 2L), (200L, 2L), (300L, 3L))
    val pool = Seq(1L, 2L, 3L) // sorted distinct linked entities
    val expected = (for {
      (q, d) <- pos.toSeq
      ((a, b), i) <- params.zipWithIndex
    } yield {
      val seed = ((q % p) * 31 + (d % p)) % p
      val idx = ((seed * a + b) % p % pool.size).toInt
      (q, d, i.toLong, pool(idx))
    }).filterNot { case (q, _, _, n) => pos.contains((q, n)) }.toSet
    assert(out == expected)
    assert(out.nonEmpty)
    // Filtered setting: no emitted negative is a true link of its query.
    assert(out.forall { case (q, _, _, n) => !pos.contains((q, n)) })
    // Per-edge seeds: the two positives of query 100 must not produce the
    // same corruption sequence.
    val seq1 = out.toSeq.filter(t => t._1 == 100L && t._2 == 1L).map(t => (t._3, t._4)).sorted
    val seq2 = out.toSeq.filter(t => t._1 == 100L && t._2 == 2L).map(t => (t._3, t._4)).sorted
    assert(seq1 != seq2 || seq1.isEmpty || seq2.isEmpty)
  }

  test("conversation keyphrases: tf-idf char bigrams match a naive recompute") {
    val s = spark
    import s.implicits._
    def tn(conv: String, i: Int, text: String) =
      graft.model.Turn(conv, i, "user", text, "", new java.sql.Timestamp(0L))
    val data = Seq(("A", 0, "红色气球"), ("A", 1, "气球很大"),
      ("B", 0, "蓝色气球"), ("B", 1, "天空蓝色"), ("C", 0, "完全无关"))
    val turns = s.createDataset(data.map { case (c, i, t) => tn(c, i, t) })
    val out = graft.kg.KgPipeline
      .conversationKeyphrases(s, turns, n = 2, topK = 3, maxDfFrac = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap

    val grams = data.flatMap { case (c, _, t) =>
      t.sliding(2).filter(_.length == 2).map(g => (c, g)) }
    val tf = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = tf.keys.toSeq.distinct.groupBy(_._2).view
      .mapValues(_.size.toLong).toMap
    val n = data.map(_._1).distinct.size.toLong
    val expected = tf
      .filter { case ((_, g), _) => df(g) <= n * 0.5 }
      .map { case ((c, g), f) =>
        (c, g) -> ((f, df(g), BigDecimal(f * math.log(n.toDouble / df(g)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)) }
      .groupBy(_._1._1).flatMap { case (_, m) =>
        m.toSeq.sortBy { case ((_, g), (_, _, sc)) => (-sc, g) }.take(3)
          .zipWithIndex.map { case (((c, g), (f, d, sc)), i) =>
            (c, g) -> ((f, d, sc, i + 1L)) } }
      .toMap
    assert(out == expected)
    // 气球 spans 2 of 3 conversations → over the 50% df cap → never a
    // keyphrase despite its high tf (the stopword cut at work).
    assert(!out.keySet.exists(_._2 == "气球"))
    assert(out.keySet.exists { case (c, g) => c == "A" })
  }

  test("pmi edges: exact counts and ln weighting over the co-mention graph") {
    val s = spark
    import s.implicits._
    val dummyAddr = graft.model.InterpretedAddress(0L, "", "", 0, 0, 0, 0, 0,
      0, "", "", "", matched = true)
    val dummyDoc = graft.model.DocVec(0L, "pk", "", Array.empty,
      Array.empty, null, null, null, null, 0)
    def m(qid: Long, conv: String) =
      graft.kg.MentionDoc(qid, conv, 0, 0, dummyAddr, dummyDoc)
    // conv A links {1,2}; conv B links {1,2,3}; conv C links {2,3}:
    // N=3, w1=2, w2=3, w3=2; pairs (1,2)=2, (1,3)=1, (2,3)=2.
    val mentions = s.createDataset(Seq(
      m(10L, "A"), m(11L, "A"), m(20L, "B"), m(21L, "B"), m(22L, "B"),
      m(30L, "C"), m(31L, "C")))
    val hits = s.createDataset(Seq(
      LinkHit(10L, 1L, 0.9, 1), LinkHit(11L, 2L, 0.9, 1),
      LinkHit(20L, 1L, 0.9, 1), LinkHit(21L, 2L, 0.9, 1),
      LinkHit(22L, 3L, 0.9, 1),
      LinkHit(30L, 2L, 0.9, 1), LinkHit(31L, 3L, 0.9, 1)))
    val out = graft.kg.KgPipeline.pmiEdges(s, mentions, hits, topRank = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6)))).toMap
    def pmi(wp: Long, ws: Long, wd: Long): Double =
      BigDecimal(math.log(wp.toDouble * 3 / (ws.toDouble * wd)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Map(
      (1L, 2L) -> ((2L, 2L, 3L, 3L, pmi(2, 2, 3))),
      (1L, 3L) -> ((1L, 2L, 2L, 3L, pmi(1, 2, 2))),
      (2L, 3L) -> ((2L, 3L, 2L, 3L, pmi(2, 3, 2)))), out)
    // (1,3) co-occurs LESS than popularity predicts — negative PMI.
    assert(out((1L, 3L))._5 < 0.0)
    assert(out((1L, 2L))._5 == 0.0)
  }

  test("metadata triples, entity timeline, and tool-entity edges match naive recomputes") {
    val s = spark
    import s.implicits._
    val corpusRows = SynthCorpus.corpus(regions, 300, 4, seed = 31)
    val turnRows = SynthCorpus.transcripts(regions, 60, 4, seed = 32)
    val bdict = s.sparkContext.broadcast(d0)
    val turns = s.createDataset(turnRows).repartition(5)
    val r = KgPipeline.run(s, turns,
      s.createDataset(corpusRows).repartition(5), bdict, 5)
    try {
      val mentions = r.mentions.collect()
      val hits = r.hits.collect()

      val mt = KgPipeline.metadataTriples(s, turns).collect()
        .map(t => (t.subj, t.pred, t.obj)).toSet
      val mtExp = turnRows.flatMap { t =>
        val subj = s"${t.conv_id}#${t.turn_idx}"
        Seq((subj, "byRole", t.role), (subj, "inConversation", t.conv_id)) ++
          (if (t.tool != null && t.tool.nonEmpty)
            Seq((subj, "usedTool", t.tool)) else Nil)
      }.toSet
      assert(mt == mtExp)
      assert(mt.exists(_._2 == "usedTool"), "fixture must exercise tool turns")

      val subjOf = mentions.map(m =>
        m.queryId -> ((s"${m.convId}#${m.turnIdx}", m.convId))).toMap
      val top1 = hits.filter(_.rank <= 1)
      val tsOf = turnRows.map(t =>
        s"${t.conv_id}#${t.turn_idx}" -> t.ts.getTime).toMap
      val tlExp = top1.groupBy(_.docId).map { case (docId, hs) =>
        val rows = hs.map(h => subjOf(h.queryId))
        val times = rows.map(x => tsOf(x._1))
        docId -> ((times.min, times.max, hs.length.toLong,
          rows.map(_._2).distinct.length.toLong))
      }
      val tl = KgPipeline.entityTimeline(s, r.mentions, r.hits, turns)
        .collect()
        .map(row => row.getAs[Long]("doc_id") ->
          ((row.getAs[Long]("first_ms"), row.getAs[Long]("last_ms"),
            row.getAs[Long]("n_mentions"), row.getAs[Long]("n_convs"))))
        .toMap
      assert(tl == tlExp)
      assert(tl.nonEmpty)

      val entConv = top1.map(h => (subjOf(h.queryId)._2, h.docId)).distinct
      val toolConv = turnRows
        .filter(t => t.tool != null && t.tool.nonEmpty)
        .map(t => (t.conv_id, t.tool)).distinct
      val teExp = (for {
        (c1, d) <- entConv; (c2, tool) <- toolConv if c1 == c2
      } yield (tool, d)).groupBy(identity).map {
        case (k, v) => k -> v.length.toLong
      }
      val te = KgPipeline.toolEntityEdges(s, r.mentions, r.hits, turns)
        .collect()
        .map(row => (row.getAs[String]("tool"), row.getAs[Long]("doc_id")) ->
          row.getAs[Long]("weight")).toMap
      assert(te == teExp)
      assert(te.nonEmpty, "fixture must produce tool-entity edges")
    } finally r.unpersistAll()
  }

  test("N-Triples serialization applies the escape set and the IRI/literal layout") {
    val s = spark
    import s.implicits._
    val obj1 = "say \"hi\"\\ path\nnew\tcol\rret"
    val trips = s.createDataset(Seq(
      graft.model.Triple("c#1", "residualText", obj1, 0.5, "pk"),
      graft.model.Triple("c#2", "hasRoad", "宁夏路", 0.0, "pk")))
    val lines = KgPipeline.toNTriples(trips).as[String].collect().toSet
    // Independent witness: java.lang.String.replace chain (the Spark side
    // runs the codegen'd replace expressions; the DuckDB oracle re-derives
    // the same bytes at driver scale).
    def escN(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    assert(lines == Set(
      s"""<graft:turn/c#1> <graft:pred/residualText> "${escN(obj1)}" .""",
      s"""<graft:turn/c#2> <graft:pred/hasRoad> "宁夏路" ."""))
    // The escape is injective on the payload: no raw quote/control chars
    // survive unescaped (a parser would see exactly one literal per line).
    assert(lines.forall(_.endsWith("\" .")))
    assert(lines.forall(l => !l.contains("\n") && !l.contains("\t")))
  }

  test("determinism across parallelism levels") {
    val s = spark
    import s.implicits._
    val corpusRows = SynthCorpus.corpus(regions, 300, 4, seed = 11)
    val turnRows = SynthCorpus.transcripts(regions, 60, 4, seed = 13)
    val bdict = s.sparkContext.broadcast(d0)

    def runWith(parts: Int): Set[(String, String, String, String, Long)] = {
      val r = KgPipeline.run(s,
        s.createDataset(turnRows).repartition(parts),
        s.createDataset(corpusRows).repartition(parts), bdict, TopN)
      try r.triples.collect().map(t =>
        (t.subj, t.pred, t.obj, t.partKey,
          java.lang.Double.doubleToLongBits(t.score))).toSet
      finally r.unpersistAll()
    }
    assert(runWith(2) == runWith(9))
  }

  test("turn text round-trips byte-identically under (conv_id, turn_idx) order") {
    val s = spark
    import s.implicits._
    val turnRows = SynthCorpus.transcripts(regions, 50, 4, seed = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-rt").toString
    s.createDataset(turnRows).repartition(6)
      .write.mode("overwrite").parquet(dir)
    val back = s.read.parquet(dir).as[Turn].collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
    val orig = turnRows.sortBy(t => (t.conv_id, t.turn_idx))
    assert(back.length == orig.length)
    back.zip(orig).foreach { case (b, o) =>
      assert(b.text == o.text && b.conv_id == o.conv_id && b.turn_idx == o.turn_idx)
    }
  }

  // --- sizing in the caller's session -------------------------------------

  private val SizingKeys =
    Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")

  /** conv A links {1,2}; conv B links {1,2,3}; conv C links {2,3}. */
  private def linkFixture(): (Dataset[graft.kg.MentionDoc], Dataset[LinkHit]) = {
    val s = spark
    import s.implicits._
    val dummyAddr = graft.model.InterpretedAddress(0L, "", "", 0, 0, 0, 0, 0,
      0, "", "", "", matched = true)
    val dummyDoc = graft.model.DocVec(0L, "pk", "", Array.empty,
      Array.empty, null, null, null, null, 0)
    def m(qid: Long, conv: String) =
      graft.kg.MentionDoc(qid, conv, 0, 0, dummyAddr, dummyDoc)
    val mentions = s.createDataset(Seq(
      m(10L, "A"), m(11L, "A"), m(20L, "B"), m(21L, "B"), m(22L, "B"),
      m(30L, "C"), m(31L, "C")))
    val hits = s.createDataset(Seq(
      LinkHit(10L, 1L, 0.9, 1), LinkHit(11L, 2L, 0.9, 1),
      LinkHit(20L, 1L, 0.9, 1), LinkHit(21L, 2L, 0.9, 1),
      LinkHit(22L, 3L, 0.9, 1),
      LinkHit(30L, 2L, 0.9, 1), LinkHit(31L, 3L, 0.9, 1)))
    (mentions, hits)
  }

  /** Collect a checkpointed analytic, then free its blocks. */
  private def collectAndRelease(df: org.apache.spark.sql.DataFrame) =
    try df.collect().toSet
    finally org.apache.spark.sql.graft.CheckpointBlocks.release(df)

  test("sized analytics plan in the caller's session at the sized width, conf intact") {
    val s = spark
    val (mentions, hits) = linkFixture()
    val initial = SizingKeys.map(s.conf.get)
    assert(initial.head == "8", "the caller's width must differ from the sized width")
    // An optimizer rule runs on the planning thread: it records the
    // caller's settings at every plan.
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[String]]()
    val probe = new org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
      def apply(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = {
        seen.add(SizingKeys.map(s.conf.get))
        p
      }
    }
    val experimental =
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(s).experimental
    experimental.extraOptimizations ++= Seq(probe)
    val edges =
      try KgPipeline.coMentionEdges(s, mentions, hits)
      finally experimental.extraOptimizations =
        experimental.extraOptimizations.filterNot(_ eq probe)
    val (bound, width) =
      try (edges.sparkSession eq s, edges.rdd.getNumPartitions)
      finally { collectAndRelease(edges); () }
    val recorded = seen.asScala.toSeq
    assert(recorded.nonEmpty)
    assert(recorded.forall(_ == initial),
      s"the caller's conf changed while the analytic planned: $recorded")
    // The result is the caller's, at the width sized to the 7 links.
    assert(bound, "coMentionEdges must return a caller-bound frame")
    assert(width == 1, s"coMentionEdges' result has $width partitions")
    assert(SizingKeys.map(s.conf.get) == initial)
  }

  test("co-mention and PMI edges come back bound to the caller's session") {
    val s = spark
    val (mentions, hits) = linkFixture()
    val edges = KgPipeline.coMentionEdges(s, mentions, hits)
    val pmi = KgPipeline.pmiEdges(s, mentions, hits)
    try {
      assert(edges.sparkSession eq s)
      assert(pmi.sparkSession eq s)
    } finally {
      collectAndRelease(edges); collectAndRelease(pmi); ()
    }
  }

  test("concurrent sized analytics on one session equal the serial outputs") {
    val s = spark
    import s.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val (mentions, hits) = linkFixture()
    val graph = Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L), (4L, 5L, 3L))
      .toDF("src", "dst", "weight")
    def rank() = graft.kg.GraphOps.pageRank(graph, 5)(_.collect().toSet)
    def edges() = (collectAndRelease(KgPipeline.coMentionEdges(s, mentions, hits)),
      collectAndRelease(KgPipeline.pmiEdges(s, mentions, hits)))
    val initial = SizingKeys.map(s.conf.get)
    val serialRank = rank()
    val serialEdges = edges()
    // The caller's settings, sampled while the analytics run.
    val observed = mutable.Set.empty[Seq[String]]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try for (_ <- 1 to 4) {
      val r = Future(rank())
      val e = Future(edges())
      while (!(r.isCompleted && e.isCompleted)) {
        observed += SizingKeys.map(s.conf.get)
        Thread.sleep(1)
      }
      assert(Await.result(r, 5.minutes) == serialRank)
      assert(Await.result(e, 5.minutes) == serialEdges)
    } finally pool.shutdown()
    assert(observed == Set(initial),
      s"the caller's session was resized while the analytics ran: $observed")
    assert(SizingKeys.map(s.conf.get) == initial,
      "concurrent sized analytics left the caller's session resized")
  }
}
