package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{AnnOps, DedupOps, TextOps}

/** Unit specs for the training-data operators (dedup / similarity search /
  * text analysis) on small in-memory frames; the DuckDB oracle covers them
  * end-to-end at driver scale. */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def docsDf = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (2L, "the quick brown fox jumped over the lazy dog"), // near dup
      (3L, "completely different content about spark engines"),
      (4L, "spark engines process completely different content")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps min id per text") {
    val out = DedupOps.exact(docsDf).collect()
    assert(out.length == 4)
    val dup = out.find(_.getLong(1) == 2L).get // dup_count == 2
    assert(dup.getLong(0) == 0L)
  }

  test("ngram jaccard: identical texts score 1, near-dups high, unrelated low") {
    val out = DedupOps.ngramJaccard(docsDf, col("doc_id") < 3, n = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((0L, 1L)) == 1.0)
    assert(out((0L, 2L)) > 0.7)
    assert(out.getOrElse((0L, 3L), 0.0) < 0.2)
  }

  test("minhash+lsh finds exact and near dups as candidates") {
    val sig = DedupOps.minHashSignature(docsDf, "doc_id", "text", n = 3, k = 32)
    assert(sig.count() == 5)
    val pairs = DedupOps.lshCandidates(sig, k = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"exact dup not an LSH candidate: $pairs")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      s"near dup not an LSH candidate: $pairs")
  }

  test("simhash: identical fingerprints for dups, small hamming for near-dups") {
    val s = spark
    val fp = DedupOps.simHash(docsDf, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L))
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(2L)) <= 20)
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(3L)) >
      java.lang.Long.bitCount(fp(0L) ^ fp(2L)))
  }

  test("brute-force cosine top-k is exact and ordered; lsh candidates subset") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val top = AnnOps.bruteForceTopK(vecs, vecs.where(col("vec_id") < 3), k = 5)
    val rows = top.collect()
    assert(rows.length == 15)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    val lsh = AnnOps.lshTopK(vecs, vecs.where(col("vec_id") < 3), k = 5,
      dim = 16, bits = 2).collect()
    // LSH results must be a subset of the same-bucket pairs scored exactly:
    // every reported cosine must equal the brute-force cosine for that pair.
    val brute = AnnOps.bruteForceTopK(vecs, vecs.where(col("vec_id") < 3), k = 49)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { r =>
      assert(math.abs(brute((r.getLong(0), r.getLong(1))) - r.getDouble(2)) < 1e-9)
    }
  }

  test("native HyperplaneBits == HOF lshBucket exactly; probes confidence-ordered") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 300L).map { i =>
      (i, Array.fill(32)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val planes = AnnOps.hyperplanes(32, 12, seed = 5)
    // Exact equality (not tolerance): both accumulate the same doubles in
    // the same order, so the sign bits must agree bit-for-bit.
    val both = vecs.select(
      AnnOps.lshBucket(col("embedding"), planes).as("native"),
      AnnOps.lshBucketHof(col("embedding"), planes).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    // Corpus-side bucket expression participates in whole-stage codegen.
    val codegen = both.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen"), codegen.take(300))
    // Probe list: first element IS the base bucket; every other probe is
    // hamming-1 from it; count = min(nProbes, bits+1); no duplicates.
    val pr = vecs.select(col("embedding"),
        org.apache.spark.sql.graft.HyperplaneBits(col("embedding"), planes).as("base"),
        org.apache.spark.sql.graft.HyperplaneProbes(col("embedding"), planes, 4).as("probes"))
      .collect()
    pr.foreach { r =>
      val base = r.getLong(1)
      val probes = r.getSeq[Long](2)
      assert(probes.length == 4 && probes.head == base)
      assert(probes.tail.forall(p => java.lang.Long.bitCount(p ^ base) == 1))
      assert(probes.distinct.length == probes.length)
    }
  }

  test("lsh ann recall vs brute force: multi-table amplification reaches 0.8") {
    // Deterministic: seeded hyperplanes + fixed testdata ⇒ exact recall.
    // True top-5 neighbors in the synthetic embeddings sit at cosine ≈ 0.3
    // (p(bit agree) ≈ 0.6), so a single 6-bit table recalls ~5% — the
    // multi-table OR-amplification is what makes LSH usable here.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 10)
    val brute = AnnOps.bruteForceTopK(e, q, k = 5)
    val single = AnnOps.lshTopK(e, q, k = 5, dim = 64, bits = 6)
    val multi = AnnOps.lshTopK(e, q, k = 5, dim = 64, bits = 6,
      probes = 3, tables = 16)
    val rSingle = AnnOps.recallVsBrute(single, brute)
    val rMulti = AnnOps.recallVsBrute(multi, brute)
    info(s"recall single=$rSingle multi=$rMulti")
    // Confidence-ordered multi-probe (flip smallest-|dot| bits) raised the
    // floor from 0.8 (round-2 lowest-index flips at probes=2) to 0.85;
    // measured 0.90 at probes=3/tables=16, probes replicating only the
    // broadcast query side.
    assert(rMulti >= 0.85, s"multi-table recall $rMulti < 0.85")
    assert(rMulti > rSingle, s"amplification must help: $rMulti <= $rSingle")
  }

  test("native CosineSim == HOF cosine to 1e-12; codegen + SQL registration") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 200L).map { i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val both = vecs.as("a").join(vecs.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(
        AnnOps.cosine(col("a.embedding"), col("b.embedding")).as("native"),
        AnnOps.cosineHof(col("a.embedding"), col("b.embedding")).as("hof"))
    val drift = both.select(max(abs(col("native") - col("hof")))).head().getDouble(0)
    assert(drift < 1e-12, s"native vs HOF cosine drift $drift")
    // Zero-norm edge: both formulations return 0.
    val z = Seq((0L, Array.fill(4)(0.0f)), (1L, Array(1.0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val zc = z.as("a").join(z.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(AnnOps.cosine(col("a.embedding"), col("b.embedding"))).head().getDouble(0)
    assert(zc == 0.0)
    // The expression participates in whole-stage codegen.
    val codegen = both.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen"), codegen.take(300))
    // array<double> inputs are honored as-is (no silent float downcast —
    // round-2 advice): native == HOF on double embeddings too.
    val dvecs = vecs.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("dv"))
    val dd = dvecs.as("a").join(dvecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(AnnOps.cosine(col("a.dv"), col("b.dv")).as("native"),
        AnnOps.cosineHof(col("a.dv"), col("b.dv")).as("hof"))
    val ddrift = dd.select(max(abs(col("native") - col("hof")))).head().getDouble(0)
    assert(ddrift < 1e-12, s"double-array native vs HOF drift $ddrift")
    // Mixed float × double sides also resolve (per-side accessors).
    val mixed = vecs.as("a").join(dvecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(AnnOps.cosine(col("a.embedding"), col("b.dv")).as("c"))
      .agg(max(abs(col("c")))).head().getDouble(0)
    assert(mixed <= 1.0 + 1e-9)
    // SQL surface: registry injection makes cosine_sim callable from SQL.
    org.apache.spark.sql.graft.CosineSim.register(s)
    vecs.createOrReplaceTempView("cosine_sim_vecs")
    val viaSql = s.sql(
      """SELECT cosine_sim(a.embedding, b.embedding) AS c
         FROM cosine_sim_vecs a JOIN cosine_sim_vecs b ON a.vec_id < b.vec_id
         ORDER BY a.vec_id, b.vec_id LIMIT 1""").head().getDouble(0)
    assert(!viaSql.isNaN)
  }

  test("SQL hyperplane_bits/probes == Column API (extension-injected session)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(9)
    val vecs = (0L until 100L).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    vecs.createOrReplaceTempView("hp_vecs")
    // Column API reference: same (dim, bits, seed) → same planes.
    val planes = AnnOps.hyperplanes(16, 4, seed = 42L)
    val colApi = vecs.select(col("vec_id"),
        AnnOps.lshBucket(col("embedding"), planes).as("b"))
      .as[(Long, Long)].collect().toMap
    // SQL path resolves via GraftExtensions on the shared session.
    val viaSql = s.sql(
      """SELECT vec_id, hyperplane_bits(embedding, 16, 4, 42) AS b
         FROM hp_vecs""").as[(Long, Long)].collect().toMap
    assert(viaSql == colApi)
    // Probes: first element is the base bucket; nprobes elements total.
    val probes = s.sql(
      """SELECT vec_id, hyperplane_probes(embedding, 16, 4, 3, 42) AS p
         FROM hp_vecs""").as[(Long, Seq[Long])].collect()
    assert(probes.forall { case (id, p) => p.length == 3 && p.head == colApi(id) })
    // Non-literal plane params must be rejected, not silently mis-planed.
    val err = intercept[Exception] {
      s.sql("SELECT hyperplane_bits(embedding, CAST(vec_id AS INT), 4) FROM hp_vecs")
        .collect()
    }
    assert(err.getMessage != null)
  }

  test("ivf ann: recall floor at 1/8 scan fraction; results are exact cosines") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 10)
    val brute = AnnOps.bruteForceTopK(e, q, k = 5)
    val ivf = AnnOps.ivfTopK(e, q, k = 5, nCells = 64, nProbe = 8)
    // Deterministic (hash-sampled centroids + fixed data): measured 0.50 at
    // nProbe/nCells = 1/8 of the corpus scanned per query.
    assert(AnnOps.recallVsBrute(ivf, brute) >= 0.45)
    // Every reported cosine equals the brute-force cosine for that pair.
    val exact = AnnOps.bruteForceTopK(e, q, k = 499).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivf.collect().foreach { r =>
      assert(math.abs(exact((r.getLong(0), r.getLong(1))) - r.getDouble(2)) < 1e-9)
    }
  }

  test("embedding near-dup: lsh variant is a perfect-precision subset of exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = DedupOps.embeddingNearDupExact(e, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = DedupOps.embeddingNearDup(e, threshold = 0.3, dim = 64,
      bits = 6, tables = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty)
    // Precision 1: every LSH pair is a true near-dup with the exact cosine.
    lsh.foreach { case (k, c) =>
      assert(exact.contains(k), s"false positive $k")
      assert(math.abs(exact(k) - c) < 1e-9)
    }
    // Recall floor (deterministic: seeded planes + fixed data).
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"near-dup recall $recall < 0.5 (${lsh.size}/${exact.size})")
  }

  test("text ops: token counts, quality, langid, fingerprints") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "the cat and the dog of the house"),
      (1L, "der hund und die katze und der vogel")).toDF("doc_id", "text")
    val tc = TextOps.tokenCounts(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_words")).toMap
    assert(tc(0L) == 8 && tc(1L) == 8)
    val lang = TextOps.langIdGuess(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_guess")).toMap
    assert(lang(0L) == "en" && lang(1L) == "de")
    val q = TextOps.qualitySignals(df).where(col("doc_id") === 0).head()
    assert(q.getAs[Long]("n_len") == 32L)
    val fp = TextOps.fingerprints(df).collect()
    assert(fp.map(_.getAs[String]("md5")).distinct.length == 2)
  }

  test("decontaminate: eval n-gram hits counted exactly; clean docs absent") {
    val s = spark
    import s.implicits._
    val ev = "SECRETBENCHMARKANSWERTOKEN" // 26 chars -> 11 distinct 16-grams
    val corpus = Seq(
      (0L, s"prefix words $ev suffix words"),          // full eval text: 11 hits
      (1L, "totally unrelated content with no overlap at all"),
      (2L, "leading words " + ev.substring(0, 20) + " out")) // 20-char prefix: 5
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, ev)).toDF("doc_id", "text")
    val out = DedupOps.decontaminate(corpus, evalSet).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    assert(out == Map(0L -> 11L, 2L -> 5L))
  }

  test("bloom decontaminate: identical to exact; prefilter prunes clean shingles") {
    val s = spark
    import s.implicits._
    val ev = "SECRETBENCHMARKANSWERTOKEN"
    val corpus = Seq(
      (0L, s"prefix words $ev suffix words"),
      (1L, "totally unrelated content with no overlap at all"),
      (2L, "leading words " + ev.substring(0, 20) + " out"))
      .toDF("doc_id", "text")
    val evalSet = Seq((100L, ev)).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    val exact = rows(DedupOps.decontaminate(corpus, evalSet))
    // One-sided membership + exact verify join ⇒ identical output, at the
    // default filter size and at a tiny 256-bit filter (heavy FP rate: the
    // false positives must die at the verify join, never add hits).
    assert(rows(DedupOps.decontaminateBloom(corpus, evalSet)) == exact)
    assert(rows(DedupOps.decontaminateBloom(corpus, evalSet,
      mBits = 256, kHash = 2)) == exact)
    // The prefilter must actually prune: corpus shingles vastly outnumber
    // the survivors at the default size (FP rate ≈ 0 here).
    val total = DedupOps.shingleRows(corpus, "doc_id", "text", 16).count()
    val hits = exact.values.sum
    assert(total > 3 * hits, s"test premise: clean shingles dominate ($total)")
  }

  test("bm25 top-k: matches a naive replay incl. df-cap and query-term cut") {
    val s = spark
    import s.implicits._
    val data = Seq(
      (0L, "apple banana cherry date egg"),
      (1L, "apple banana cherry fig grape grape"),
      (2L, "unrelated tokens zebra yak xylo"),
      (3L, "apple banana kiwi lemon mango"))
    val docs = data.toDF("doc_id", "text")
    val k1 = 1.2; val b = 0.75

    def naive(maxDf: Long, maxQ: Int, topK: Int): Map[(Long, Long), (Double, Long)] = {
      val toks = data.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
      val tf = toks.flatMap { case (id, ts) =>
        ts.groupBy(identity).map { case (t, g) => (id, t) -> g.size.toLong } }
      val fpos = toks.flatMap { case (id, ts) =>
        ts.zipWithIndex.groupBy(_._1).map { case (t, g) =>
          (id, t) -> g.map(_._2).min } }
      val dl = toks.view.mapValues(_.size.toLong).toMap
      val n = dl.size; val avgdl = dl.values.sum.toDouble / n
      val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        .filter(_._2 <= maxDf)
      val qid = 3L
      val qterms = toks(qid).distinct.filter(df.contains)
        .sortBy(t => (fpos((qid, t)), t)).take(maxQ)
      val scores = (for {
        did <- dl.keys.toSeq if did != qid // Seq: equal per-term scores must not collapse
        t <- qterms if tf.contains((did, t))
      } yield {
        val idf = math.log((n.toDouble - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
        (did, idf * (tf((did, t)) * (k1 + 1.0)) /
          (tf((did, t)) + k1 * ((1.0 - b) + b * dl(did) / avgdl)))
      }).groupBy(_._1).view.mapValues(v => BigDecimal(v.map(_._2).sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
      scores.toSeq.sortBy { case (did, sc) => (-sc, did) }.take(topK)
        .zipWithIndex
        .map { case ((did, sc), i) => (qid, did) -> ((sc, i.toLong + 1)) }
        .toMap
    }
    def run(maxDf: Long, maxQ: Int, topK: Int) =
      TextOps.bm25TopK(docs, col("doc_id") === 3, maxDf = maxDf,
          maxQueryTerms = maxQ, topK = topK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getLong(3)))).toMap

    assert(run(200, 8, 5) == naive(200, 8, 5))
    // df-cap: apple/banana (df=3) dropped, only rarer terms score.
    assert(run(2, 8, 5) == naive(2, 8, 5))
    // query-term cut by first occurrence.
    assert(run(200, 2, 5) == naive(200, 2, 5))
    // The lexically-similar docs must outrank the unrelated one.
    val top = run(200, 8, 5)
    assert(top((3L, 0L))._1 > 0 && top((3L, 1L))._1 > 0)
    assert(!top.contains((3L, 2L)))
  }

  test("sorted neighborhood: window candidates verified by jaccard; partition-invariant") {
    val s = spark
    import s.implicits._
    // Three templated variants share a long prefix (adjacent in normalized
    // sort order); two unrelated docs sit elsewhere in the order.
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog variant one"),
      (11L, "The quick brown fox jumps over the lazy dog variant two"),
      (12L, "the quick brown fox jumps over the lazy dog variant three"),
      (13L, "zebra yak xylophone walrus vulture unrelated content here"),
      (14L, "mid alphabet entirely different prose about spark engines"),
      // Longer than the 64-char key: identical prefix, divergent tails —
      // the bounded key must still land them adjacent (id breaks the tie).
      (15L, "qqq shared very long boilerplate header repeated across documents with tail alpha"),
      (16L, "qqq shared very long boilerplate header repeated across documents with tail omega"))
      .toDF("doc_id", "text")
    val w = 2; val n = 8; val tau = 0.3
    def run(parts: Int) = DedupOps
      .sortedNeighborhood(docs.repartition(parts), w = w, n = n, tau = tau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val out = run(1)
    assert(run(5) == out, "ranks are a pure function of the input")

    // Naive replay: one global sort, all |Δrank| ≤ w pairs, exact jaccard.
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val ranked = rows
      .map { case (id, t) =>
        (id, t, t.trim.replaceAll("\\s+", " ").toLowerCase.take(64)) }
      .sortBy { case (id, _, k) => (k, id) }.zipWithIndex
    def shSet(t: String): Set[String] =
      if (t.length < n) Set.empty else t.sliding(n).toSet
    val expected = (for {
      ((a, ta, _), ra) <- ranked; ((b, tb, _), rb) <- ranked
      if rb > ra && rb - ra <= w
      sa = shSet(ta); sb = shSet(tb)
      if sa.nonEmpty && sb.nonEmpty
      shared = (sa intersect sb).size
      j = BigDecimal(shared.toDouble / (sa.size + sb.size - shared))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if shared > 0 && j >= tau
    } yield (a, b) -> j).toMap
    assert(out == expected)
    // The templated variants must have been caught.
    assert(out.keySet.exists { case (a, b) =>
      Set(a, b).subsetOf(Set(10L, 11L, 12L)) })
    // The >64-char pair ties on the bounded key and still pairs up.
    assert(out.contains((15L, 16L)), out)
    // No pair involving the unrelated docs survives the verify.
    assert(out.keySet.forall { case (a, b) => a != 13L && b != 13L && a != 14L && b != 14L })
  }

  test("repetition signals: dup bigram fraction exact; short docs report 0") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "spam spam spam spam spam"),   // 4 bigrams, 1 distinct -> 0.75
      (1L, "all words here are unique"),  // 4 bigrams, 4 distinct -> 0.0
      (2L, "word"),                       // < 2 words -> zeros
      (3L, "a b a b a")                   // 4 bigrams: ab,ba,ab,ba -> 0.5
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionSignals(df).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("dup_bigram_frac")))
    }.toMap
    assert(out(0L) == ((4L, 1L, 0.75)))
    assert(out(1L) == ((4L, 4L, 0.0)))
    assert(out(2L) == ((0L, 0L, 0.0)))
    assert(out(3L) == ((4L, 2L, 0.5)))
  }

  test("pii signals: counts on original text; redaction order email->phone->ip") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "mail a.b+c@ex-mail.org or b@x.io call +86-555-1234 from 10.0.0.1"),
      (1L, "no pii here, just 1234-5678 and version 1.2"),
      (2L, "+1-800-9999 twice +44-123-4567 and ip 192.168.1.255 end")
    ).toDF("doc_id", "text")
    val out = TextOps.piiSignals(df).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_emails"), r.getAs[Long]("n_phones"),
          r.getAs[Long]("n_ips"), r.getAs[String]("redacted")))
    }.toMap
    assert(out(0L) == ((2L, 1L, 1L,
      "mail <EMAIL> or <EMAIL> call <PHONE> from <IP>")))
    assert(out(1L) == ((0L, 0L, 0L,
      "no pii here, just 1234-5678 and version 1.2")))
    assert(out(2L) == ((0L, 2L, 1L,
      "<PHONE> twice <PHONE> and ip <IP> end")))
  }

  test("boilerplate spans: cross-doc n-gram df, per-position counts, short docs zero") {
    val s = spark
    import s.implicits._
    val tpl = "this footer text is shared across many pages verbatim" // 9 words
    val df = Seq(
      (0L, s"unique alpha words one two three four five six seven $tpl"),
      (1L, s"different beta content nine ten eleven twelve moreso $tpl"),
      (2L, "too short"),                         // < 8 words -> zeros
      (3L, "gamma only words with no overlap beyond anything shared here")
    ).toDF("doc_id", "text")
    val out = DedupOps.boilerplateSpans(df, n = 8, minDf = 2).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_boiler"),
          r.getAs[Double]("boiler_frac")))
    }.toMap
    // tpl contributes 2 eight-grams fully inside itself; doc0 has 19 words ->
    // 12 spans, doc1 has 17 -> 10 spans. Only the 2 all-template spans are
    // shared between docs 0 and 1 (the words flanking tpl differ).
    assert(out(0L) == ((12L, 2L, 0.1667)))
    assert(out(1L) == ((10L, 2L, 0.2)))
    assert(out(2L) == ((0L, 0L, 0.0)))
    assert(out(3L) == ((3L, 0L, 0.0)))
  }

  test("duplicate span intervals: overlapping windows merge, disjoint runs stay separate") {
    val s = spark
    import s.implicits._
    val tplA = "shared header block appears on every page here" // 8 words
    val tplB = "common footer legal boilerplate notice text block end" // 8 words
    val df = Seq(
      // tplA at words 1-8, tplB at words 17-24 (8 unique words between).
      (0L, s"$tplA u1 u2 u3 u4 u5 u6 u7 u8 $tplB"),
      (1L, s"$tplA w1 w2 w3 w4 w5 w6 w7 w8 $tplB"),
      (2L, "nothing duplicated in this document at all whatsoever truly")
    ).toDF("doc_id", "text")
    def run(parts: Int) =
      DedupOps.duplicateSpanIntervals(df.repartition(parts))
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_idx"),
          r.getAs[Long]("start_word"), r.getAs[Long]("end_word"),
          r.getAs[Long]("span_words")))
        .toSet
    val out = run(3)
    // Only the pure-template windows are cross-doc duplicates (the filler
    // words differ per doc), so each doc gets TWO disjoint 8-word islands.
    val expect = Set(
      (0L, 1L, 1L, 8L, 8L), (0L, 2L, 17L, 24L, 8L),
      (1L, 1L, 1L, 8L, 8L), (1L, 2L, 17L, 24L, 8L))
    assert(out == expect)
    assert(run(1) == out, "interval merge must be partitioning-invariant")

    // A LONGER shared run (9 words = 2 overlapping windows) merges into one
    // maximal interval instead of two window rows.
    val long = Seq(
      (0L, s"$tplA nine"), (1L, s"$tplA nine")).toDF("doc_id", "text")
    val merged = DedupOps.duplicateSpanIntervals(long).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_idx"),
        r.getAs[Long]("start_word"), r.getAs[Long]("end_word")))
      .toSet
    assert(merged == Set((0L, 1L, 1L, 9L), (1L, 1L, 1L, 9L)))
  }

  test("bigram LM scores match a naive reference; short docs report zero") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat on the hat"),
      (2L, "dogs run fast"),
      (3L, "single"),
      (4L, "the cat sat on the mat")) // exact dup of 0 (count mass doubles)
    val k = 0.5
    val toks = rows.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val bgs = toks.flatMap { case (id, ws) =>
      if (ws.length < 2) Nil else ws.sliding(2).map(p => (id, p(0), p(1))).toSeq
    }
    val c2 = bgs.groupBy(b => (b._2, b._3)).view.mapValues(_.size).toMap
    val c1 = bgs.groupBy(_._2).view.mapValues(_.size).toMap
    val v = toks.flatMap(_._2).distinct.size.toDouble
    val want = bgs.groupBy(_._1).map { case (id, bs) =>
      id -> ((bs.size.toLong,
        bs.map(b => math.log((c2((b._2, b._3)) + k) / (c1(b._2) + k * v)))
          .sum / bs.size))
    }
    val out = TextOps.bigramLmScores(rows.toDF("doc_id", "text"), k = k)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob"))))
      .toMap
    rows.map(_._1).foreach { id =>
      val (nb, lp) = want.getOrElse(id, (0L, 0.0))
      assert(out(id)._1 == nb, s"doc $id n_bigrams")
      // Spark emits round(lp, 6), the naive reference is unrounded — allow
      // the half-ulp of that quantization contract.
      assert(math.abs(out(id)._2 - lp) < 6e-7, s"doc $id logprob")
    }
    // Duplicated docs share identical bigrams, so they must score equal —
    // and higher than the doc whose tail bigram is rarer.
    assert(out(0L)._2 == out(4L)._2)
    assert(out(0L)._2 > out(1L)._2)
  }

  test("k-core peel: rounds, degrees, convergence flag; blocks released") {
    val s = spark
    import s.implicits._
    // Path 1-2-3-4 (peels in two rounds) + triangle 5-6-7 (the 2-core) +
    // pendant 8 on 5 (peels round 1).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (5L, 7L),
      (6L, 7L), (5L, 8L)).toDF("src", "dst")
    val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
    val out = graft.kg.GraphOps.kCore(edges, k = 2, rounds = 6) {
      _.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))))
        .toMap
    }
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"kCore leaked persisted blocks: $leaked")
    assert(out == Map(
      1L -> ((1L, 1L, false, true)), 4L -> ((1L, 1L, false, true)),
      8L -> ((1L, 1L, false, true)),
      2L -> ((2L, 1L, false, true)), 3L -> ((2L, 1L, false, true)),
      5L -> ((0L, 2L, true, true)), 6L -> ((0L, 2L, true, true)),
      7L -> ((0L, 2L, true, true))), out)
    // Insufficient rounds: round-1 survivors keep their round-1 degrees
    // and the run reports non-convergence instead of a silent wrong core.
    val partial = graft.kg.GraphOps.kCore(edges, k = 2, rounds = 1) {
      _.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    }
    assert(partial(2L) == ((0L, 2L, false)) && partial(5L) == ((0L, 3L, false)))
    assert(partial(1L) == ((1L, 1L, false)))
  }

  test("adamic-adar: scores non-adjacent pairs by shared-neighbor rarity") {
    val s = spark
    import s.implicits._
    // 1-2, 1-3, 2-3, 2-4, 3-4: the only non-adjacent pair with >=2 common
    // neighbors is (1,4), via {2,3} (both degree 3).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
    val out = graft.kg.GraphOps.adamicAdar(edges) {
      _.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    }
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"adamicAdar leaked persisted blocks: $leaked")
    val exp = BigDecimal(2.0 / math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Map((1L, 4L) -> ((2L, exp))), out)
    // Edge (2,3) has 2 common neighbors too but IS an edge — excluded above.
    // Hub cap: dropping degree-3 vertices removes all wedge evidence.
    val capped = graft.kg.GraphOps.adamicAdar(edges, maxHubDeg = 2L) {
      _.count()
    }
    assert(capped == 0L)
  }

  test("pagerank matches a naive reference; mass conserved; partition-invariant") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L), (4L, 5L, 3L))
    val d = graft.kg.GraphOps.Damping; val iters = 5
    val ud = edges.flatMap { case (a, b, w) =>
      Seq((a, b, w.toDouble), (b, a, w.toDouble)) }
    val nodes = ud.map(_._1).distinct.sorted
    val n = nodes.size
    val outW = ud.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = ud.groupBy(_._2).view.mapValues(
        _.map { case (a, _, w) => rank(a) * w / outW(a) }.sum).toMap
      rank = nodes.map(x => x -> ((1 - d) / n + d * in.getOrElse(x, 0.0))).toMap
    }
    def run(parts: Int) = graft.kg.GraphOps.pageRank(
        edges.toDF("src", "dst", "weight").repartition(parts), iters) {
      _.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("pagerank"))
        .toMap
    }
    val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
    val out = run(4)
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"pageRank leaked persisted blocks: $leaked")
    nodes.foreach(x => assert(math.abs(out(x) - rank(x)) < 1e-9, s"node $x"))
    assert(math.abs(out.values.sum - 1.0) < 1e-6, "rank mass must sum to 1")
    assert(run(1) == out, "pagerank must be partitioning-invariant")
  }

  test("pagerank frees every cache and checkpoint when use throws") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 1L), (1L, 3L, 1L))
      .toDF("src", "dst", "weight")
    val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
    val err = intercept[IllegalStateException] {
      graft.kg.GraphOps.pageRank(edges, iters = 3) { pr =>
        assert(pr.count() == 3L)
        throw new IllegalStateException("use failed")
      }
    }
    assert(err.getMessage == "use failed")
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"pageRank leaked persisted blocks: $leaked")
  }

  test("a cache scope frees its frame, RDD and checkpoint when its block throws") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var inside = scala.collection.Set.empty[Int]
    val err = intercept[IllegalStateException] {
      org.apache.spark.sql.graft.CacheScope { cache =>
        assert(cache.persist(Seq(1, 2, 3).toDF("x")).count() == 3L)
        assert(cache.persist(sc.parallelize(1 to 4)).count() == 4L)
        assert(cache.localCheckpoint(Seq(5, 6).toDF("y")).count() == 2L)
        inside = sc.getPersistentRDDs.keySet -- before
        throw new IllegalStateException("block failed")
      }
    }
    assert(err.getMessage == "block failed")
    assert(inside.size == 3, s"expected a frame, an RDD and a checkpoint: $inside")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"the scope leaked persisted blocks: $leaked")
  }

  test("label propagation matches a naive synchronous reference; partition-invariant") {
    val s = spark
    import s.implicits._
    // Two natural communities bridged by one weak edge, plus a separate pair.
    val edges = Seq(
      (1L, 2L, 5L), (1L, 3L, 4L), (2L, 3L, 6L), // tight community {1,2,3}
      (3L, 4L, 1L),                             // weak bridge
      (4L, 5L, 7L), (4L, 6L, 5L), (5L, 6L, 8L), // tight community {4,5,6}
      (7L, 8L, 2L))                             // separate pair
    val iters = 4
    val ud = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val nodes = ud.map(_._1).distinct.sorted
    var lab = nodes.map(x => x -> x).toMap
    // Semi-synchronous: even-id nodes update first, then odd-id nodes
    // against the refreshed labels (two half-steps per round).
    for (_ <- 1 to iters; p <- Seq(0, 1)) {
      lab = nodes.map { v =>
        if (v % 2 != p) v -> lab(v)
        else {
          val scores = ud.filter(_._2 == v)
            .groupBy { case (u, _, _) => lab(u) }
            .view.mapValues(_.map(_._3).sum).toMap
          // max weight, ties to smallest label
          v -> scores.toSeq.minBy { case (l, w) => (-w, l) }._1
        }
      }.toMap
    }
    def run(parts: Int) = graft.kg.GraphOps.labelPropagation(
        edges.toDF("src", "dst", "weight").repartition(parts), iters) {
      _.collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("community"))
        .toMap
    }
    val persistedBefore = s.sparkContext.getPersistentRDDs.keySet
    val out = run(4)
    val leaked = s.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"labelPropagation leaked persisted blocks: $leaked")
    assert(out == lab)
    // The two tight communities must each converge to one label; the
    // separate pair converges to its min id.
    assert(Set(out(4L), out(5L), out(6L)).size == 1)
    assert(out(7L) == 7L && out(8L) == 7L)
    assert(run(1) == out, "label propagation must be partitioning-invariant")
  }

  test("count-min heavy hitters: estimates >= exact, match a naive sketch replay") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "a a a b b c d"),
      (1L, "a b e f g"),
      (2L, "a c c h"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextOps.heavyHitters(docs, depth = 4, topK = 5)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // Naive replay with the same contracts: whitespace tokens, md5-prefix
    // buckets, min over depth rows.
    val toks = Seq("a a a b b c d", "a b e f g", "a c c h")
      .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
    def bucket(t: String, r: Int): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((t + "#" + r).getBytes("UTF-8"))
      md.map("%02x".format(_)).mkString.substring(0, 2)
    }
    val counters = (for { t <- toks; r <- 0 until 4 } yield (r, bucket(t, r)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val top = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(5)
    val expected = top.map { case (t, c) =>
      t -> ((c, (0 until 4).map(r => counters((r, bucket(t, r)))).min))
    }.toMap
    assert(out == expected)
    // CMS one-sided error: never underestimates.
    assert(out.forall { case (_, (exactC, est)) => est >= exactC })
    assert(out("a")._1 == 5L)
  }

  test("hll distinct: matches a naive sketch replay, partition-invariant, accurate") {
    val s = spark
    import s.implicits._
    // Two groups: 'en' with 3000 distinct tokens (sketch estimation regime),
    // 'de' with 4 distinct tokens (linear-counting branch).
    val docs = ((0 until 600).map { i =>
      (i.toLong, (0 until 5).map(j => s"tok${i * 5 + j}").mkString(" "), "en")
    } :+ (9000L, "wer und was und wer wo", "de"))
      .toDF("doc_id", "text", "lang")

    def run(parts: Int) = TextOps.hllDistinct(docs.repartition(parts))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    val out = run(1)
    assert(run(7) == out, "HLL must be partitioning-invariant (mergeable max)")

    // Naive replay with the same contracts: md5-hex registers, string rho.
    def md5hex(t: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(t.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def rho(h: String): Int = {
      val stripped = h.substring(2, 10).dropWhile(_ == '0')
      if (stripped.isEmpty) 33
      else {
        val lz = stripped.head match {
          case '1' => 3; case '2' | '3' => 2
          case c if c >= '4' && c <= '7' => 1; case _ => 0
        }
        (8 - stripped.length) * 4 + lz + 1
      }
    }
    val toks = docs.collect().flatMap(r =>
      r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
        .map(t => (r.getString(2), t)))
    val expected = toks.groupBy(_._1).map { case (g, rows) =>
      val regs = rows.map(_._2).distinct
        .groupBy(t => md5hex(t).substring(0, 2))
        .view.mapValues(ts => ts.map(t => rho(md5hex(t))).max).toMap
      val v = 256 - regs.size
      val harm = regs.values.map(m => 1.0 / (1L << m).toDouble).sum + v
      val eRaw = TextOps.HllAlphaM2 / harm
      val est = if (eRaw <= 2.5 * 256 && v > 0) 256.0 * math.log(256.0 / v)
        else eRaw
      g -> ((rows.map(_._2).distinct.length.toLong,
        BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        v.toLong))
    }
    assert(out == expected)
    // Accuracy: 1.04/sqrt(256) ≈ 6.5% std error; assert a loose 3-sigma.
    val (nEn, estEn, _) = out("en")
    assert(nEn == 3000L)
    assert(math.abs(estEn - nEn) / nEn < 0.2,
      s"HLL estimate $estEn too far from exact $nEn")
    // Small-range branch: 'de' lands on linear counting and is near-exact.
    val (nDe, estDe, zDe) = out("de")
    assert(nDe == 4L && zDe > 0)
    assert(math.abs(estDe - nDe) < 1.0)
  }

  test("fuzzy decontamination flags paraphrase-level eval overlap with verified jaccard") {
    val s = spark
    // Eval doc 2 is a near-dup (one word differs) of corpus docs 0/1;
    // corpus docs 3/4 are unrelated prose.
    val corpus = docsDf.where(col("doc_id") =!= 2)
    val evalSet = docsDf.where(col("doc_id") === 2)
    val out = DedupOps.decontaminateFuzzy(corpus, evalSet,
        n = 5, k = 32, bands = 8, tau = 0.5)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.contains(0L) && out.contains(1L),
      s"near-dups must band-collide with the eval doc: $out")
    assert(out(0L)._1 == 1L) // one eval doc → one candidate
    assert(out(0L)._2 == 1L, "near-dup must verify above tau")
    assert(out(0L) == out(1L), "exact dups get identical verdicts")
    assert(!out.contains(3L) && !out.contains(4L),
      s"unrelated docs must not be flagged: $out")

    // The verified jaccard equals the naive distinct-5-shingle-set value
    // (hash collisions at p=2^31-1 over ~40 shingles are negligible and
    // would fail this exact equality if they ever occurred).
    val t0 = "the quick brown fox jumps over the lazy dog"
    val t2 = "the quick brown fox jumped over the lazy dog"
    def hset(t: String) = t.sliding(5).toSet
    val a = hset(t0); val b = hset(t2)
    val inter = a.intersect(b).size
    val jNaive = BigDecimal(
        inter.toDouble / (a.size + b.size - inter))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L)._3 == jNaive, s"${out(0L)._3} != $jNaive")
  }

  test("pq top-k matches a naive ADC reference; partition-invariant; recall floor") {
    val s = spark
    import s.implicits._
    val dim = 16; val m = 4; val sub = dim / m; val ks = 8
    val k = 3; val rerank = 4
    val rnd = new scala.util.Random(17)
    val rows = (0L until 60L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
    def df(parts: Int) = rows.toDF("vec_id", "embedding").repartition(parts)
    val queries = rows.filter(_._1 < 5)

    // Naive sequential PQ with the exact contracts: hash-sampled codebook,
    // round-9 argmin encode (ties low), round-9 ADC cosine, rerank·k cut by
    // (a desc, nid asc), exact-cosine top-k by (cos desc, nid asc).
    def r(x: Double, n: Int) =
      BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cbRows = AnnOps.pqCodebook(df(3), dim, m, ks)
    val cw = Array.tabulate(m, ks)((si, j) => cbRows(si * ks + j)._3)
    def encode(v: Array[Float]): Array[Int] = Array.tabulate(m) { si =>
      (0 until ks).map { j =>
        val d = (0 until sub).map { i =>
          val x = v(si * sub + i).toDouble - cw(si)(j)(i); x * x
        }.sum
        (r(d, 9), j)
      }.min._2
    }
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) {
        xy += a(i).toDouble * b(i); xx += a(i).toDouble * a(i)
        yy += b(i).toDouble * b(i); i += 1
      }
      if (xx == 0 || yy == 0) 0.0 else xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    val expected = queries.flatMap { case (qid, qv) =>
      val qNorm = math.sqrt(qv.map(x => x.toDouble * x).sum)
      val cands = rows.filter(_._1 != qid).map { case (nid, nv) =>
        val codes = encode(nv)
        val recN = math.sqrt((0 until m).map(si =>
          cw(si)(codes(si)).map(x => x * x).sum).sum)
        val dot = (0 until m).map(si =>
          (0 until sub).map(i =>
            qv(si * sub + i).toDouble * cw(si)(codes(si))(i)).sum).sum
        val a = r(if (qNorm == 0 || recN == 0) 0.0 else dot / (qNorm * recN), 9)
        (nid, a)
      }.sortBy { case (nid, a) => (-a, nid) }.take(rerank * k)
      cands.map { case (nid, _) =>
        (nid, cosD(qv, rows.find(_._1 == nid).get._2))
      }.sortBy { case (nid, c) => (-c, nid) }.take(k).zipWithIndex
        .map { case ((nid, c), i) => (qid, nid, r(c, 4), i + 1) }
    }.toSet

    def run(parts: Int) = AnnOps.pqTopK(df(parts), df(parts)
        .where(col("vec_id") < 5), k, dim, m, ks, rerank)
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2),
        row.getInt(3))).toSet
    val out = run(7)
    assert(out == expected)
    assert(run(1) == out, "pqTopK must be partitioning-invariant")

    // Recall vs brute force: PQ + 4k-deep re-rank on random vectors.
    val rec = AnnOps.recallVsBrute(
      AnnOps.pqTopK(df(7), df(7).where(col("vec_id") < 5), k, dim, m, ks, rerank),
      AnnOps.bruteForceTopK(df(7), df(7).where(col("vec_id") < 5), k))
    assert(rec >= 0.5, s"pq recall $rec below floor")
  }

  test("triangle stats match a naive reference on a known and a random graph") {
    val s = spark
    import s.implicits._
    def naive(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] = {
      val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val nbr = (es ++ es.map(_.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val nodes = nbr.keys.toSeq.sorted
      val triCount = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((a, b) <- es; c <- nbr(a) if c > b && nbr(b).contains(c)) {
        triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
      }
      nodes.map { v =>
        val d = nbr(v).size.toLong
        val t = triCount(v)
        val cc = if (d < 2) 0.0
          else BigDecimal(2.0 * t / (d * (d - 1)))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        v -> (d, t, cc)
      }.toMap
    }
    def run(edges: Seq[(Long, Long)]) =
      graft.kg.GraphOps.triangleStats(
          edges.toDF("src", "dst").withColumn("weight", lit(1L))) {
        _.collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
              r.getAs[Double]("clustering"))))
          .toMap
      }
    val known = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    assert(run(known) == naive(known))
    val got = run(known)
    assert(got(2L)._3 == 1.0 && got(5L)._3 == 0.0)
    // Random graph with hubs (skewed degrees) — exercises the degree
    // orientation against the order-free naive counter.
    val rnd = new scala.util.Random(9)
    val rand = (0 until 120).map { _ =>
      val a = rnd.nextInt(25).toLong
      val b = rnd.nextInt(25).toLong
      (math.min(a, b), math.max(a, b)) // canonical src < dst, like coMentionEdges
    }.filter { case (a, b) => a != b }.distinct
    assert(run(rand) == naive(rand))
  }

  test("kmeans matches a naive Lloyd reference; partitioning-invariant") {
    val s = spark
    import s.implicits._
    import graft.ops.ClusterOps
    val rnd = new scala.util.Random(5)
    val rows = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("vec_id", "embedding")
    val k = 3; val iters = 3
    val init = AnnOps.ivfCentroids(df, k)

    // Naive sequential Lloyd with the EXACT update contract (round-9 means,
    // normalize, round-9; empty/zero-norm freezes; argmax ties to lowest).
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
      while (i < a.length) {
        xy += a(i) * b(i); xx += a(i) * a(i); yy += b(i) * b(i); i += 1
      }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    def argmax(v: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = 0; var bestC = cos(v, cs(0)); var c = 1
      while (c < cs.length) {
        val x = cos(v, cs(c)); if (x > bestC) { best = c; bestC = x }; c += 1
      }
      best
    }
    val dvs = rows.map { case (id, v) => id -> v.map(_.toDouble) }
    var cs = init.sortBy(_._1).map(_._2)
    for (_ <- 1 to iters) {
      val byCl = dvs.groupBy { case (_, v) => argmax(v, cs) }
      cs = cs.zipWithIndex.map { case (prev, cl) =>
        byCl.get(cl) match {
          case None => prev
          case Some(members) =>
            val m = Array.tabulate(8)(p =>
              r9(members.map(_._2(p)).sum / members.size))
            val nrm = math.sqrt(m.map(x => x * x).sum)
            if (nrm == 0) prev else m.map(x => r9(x / nrm))
        }
      }
    }
    val want = dvs.map { case (id, v) =>
      val cl = argmax(v, cs); id -> ((cl, cos(v, cs(cl))))
    }.toMap

    def run(d: org.apache.spark.sql.DataFrame) =
      ClusterOps.kmeans(d, k, iters, init)._1.collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("cluster"), r.getAs[Double]("cos")))).toMap
    val out = run(df)
    want.foreach { case (id, (cl, c)) =>
      assert(out(id)._1 == cl, s"vec $id cluster")
      assert(math.abs(out(id)._2 - c) < 6e-7, s"vec $id cos") // round-6 grid
    }
    assert(run(df.repartition(7)) == out, "kmeans must be partitioning-invariant")

    // SemDedup drop rule: lower-id cluster-mate with round(cos,6) >= tau.
    val tau = 0.2
    val wantDrop = dvs.map { case (id, v) =>
      val cl = argmax(v, cs)
      id -> dvs.exists { case (jd, w) =>
        jd < id && argmax(w, cs) == cl &&
          BigDecimal(cos(v, w)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble >= tau
      }
    }.toMap
    val drops = ClusterOps.semDedup(df, k, iters, tau, init) {
      _.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("dropped"))
        .toMap
    }
    assert(drops == wantDrop)
    assert(drops.values.exists(identity), "tau chosen so some vectors drop")
    assert(!drops.values.forall(identity), "and some survive")
  }

  test("epoch shards: exact prefix offsets, budget cuts, parallelism-invariant") {
    val s = spark
    import s.implicits._
    // 12 docs, 40 non-space chars each -> floor(43/4) = 10 tokens per doc.
    val df = (0L until 12L).map(i => (i, ("x" * 20 + " " + "y" * 20)))
      .toDF("doc_id", "text")
    def rows(parts: Int) =
      TextOps.epochShards(df.repartition(parts), seed = 7, shardTokens = 25)
        .select("doc_id", "shuffle_key", "n_tokens_est", "token_offset",
          "shard_id", "shard_pos")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
    val got = rows(1)
    assert(got == rows(7)) // the two-pass scan must not depend on layout

    // Straight-line reference: same affine hash, sort, cumsum, cut at 25.
    val p = DedupOps.HashP
    val expected = (0L until 12L)
      .map(id => (id, ((id % p) * TextOps.SampleA + TextOps.SampleB + 7) % p))
      .sortBy { case (id, sk) => (sk, id) }
      .zipWithIndex
      .map { case ((id, sk), pos) =>
        val offset = pos.toLong * 10
        (id, sk, 10L, offset, offset / 25, 0L)
      }
    // shard_pos: rank within shard along the same order.
    val withPos = expected.groupBy(_._5).valuesIterator.flatMap { grp =>
      grp.sortBy(t => (t._2, t._1)).zipWithIndex
        .map { case (t, i) => t.copy(_6 = i + 1L) }
    }.toSet
    assert(got == withPos)
    // 120 tokens / 25 per shard -> offsets 0..110 -> shard ids 0..4.
    assert(got.map(_._5) == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("connected components == union-find on structured + random graphs") {
    val s = spark
    import s.implicits._
    // Structured: a chain, a star, a triangle sharing a node with the chain,
    // an isolated pair, duplicate & reversed edges.
    val structured = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),           // chain 1-2-3-4
      (4L, 100L), (100L, 4L), (100L, 101L),   // triangle arm + reversed dup
      (10L, 11L), (10L, 12L), (10L, 13L),     // star centered on 10
      (20L, 21L), (21L, 20L),                  // isolated pair, both ways
      (30L, 31L), (31L, 32L), (32L, 30L))      // cycle
    // Random: seeded sparse graph — many small components, one giant one.
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    for (edges <- Seq(structured, random)) {
      // Driver-side union-find oracle.
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expectGroup = nodes.map(n => n -> find(n)).toMap
      val expectSize = expectGroup.groupBy(_._2).map { case (g, m) => g -> m.size.toLong }

      val got = DedupOps.connectedComponents(edges.toDF("a", "b")).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("group_id"),
          r.getAs[Long]("group_size")))
      assert(got.length == nodes.size, "one row per node")
      got.foreach { case (id, gid, sz) =>
        assert(gid == expectGroup(id), s"node $id: group $gid != ${expectGroup(id)}")
        assert(sz == expectSize(gid), s"group $gid size")
      }
    }
    // Empty pair set → empty grouping, no convergence failure.
    assert(DedupOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
  }

  test("connected components: pair-table re-lay is layout-invariant") {
    // Round 6: a wide-partitioned pair input (the session-width bucket-join
    // layout a real caller hands in) triggers the pre-loop repartition to
    // the sized loop width; output must be identical to the narrow input's.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter { case (a, b) => a != b }
    def runAt(parts: Int) =
      DedupOps.connectedComponents(edges.toDF("a", "b").repartition(parts))
        .collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("group_id"),
          r.getAs[Long]("group_size"))).toSet
    val narrow = runAt(2)   // below the 4×gp gate: no re-lay
    val wide = runAt(64)    // far above it: the re-lay exchange fires
    assert(narrow.nonEmpty && wide == narrow)
  }

  test("stratified sample: deterministic hash-threshold keep, stable under repartition") {
    val s = spark
    import s.implicits._
    val docs = (0L until 500L).map(i => (i, if (i % 3 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val rates = Map("en" -> 0.25, "zh" -> 0.75)
    val out = TextOps.stratifiedSample(docs, "lang", rates, defaultRate = 0.5)
    val rows = out.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("lang"), r.getAs[Long]("sample_key"), r.getAs[Long]("sample_thr")))
    val p = DedupOps.HashP
    // Every kept row satisfies the keep predicate with the right threshold...
    rows.foreach { case (id, lang, key, thr) =>
      assert(key == ((id % p) * TextOps.SampleA + TextOps.SampleB) % p)
      assert(thr == TextOps.sampleThreshold(rates(lang)) && key < thr)
    }
    // ...and every dropped row fails it (no silent over-drop).
    val keptIds = rows.map(_._1).toSet
    (0L until 500L).filterNot(keptIds).foreach { id =>
      val lang = if (id % 3 == 0) "en" else "zh"
      val key = ((id % p) * TextOps.SampleA + TextOps.SampleB) % p
      assert(key >= TextOps.sampleThreshold(rates(lang)), s"row $id wrongly dropped")
    }
    // Keep-rates land near the configured rates (hash uniformity sanity).
    val byLang = rows.groupBy(_._2).map { case (l, g) => l -> g.length }
    assert(math.abs(byLang("en") / 167.0 - 0.25) < 0.1)
    assert(math.abs(byLang("zh") / 333.0 - 0.75) < 0.1)
    // Partitioning-independence: same rows at a different parallelism.
    val re = TextOps.stratifiedSample(docs.repartition(13), "lang", rates, 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(re == keptIds)
  }

  test("sized operators plan in the caller's session at the sized width; conf unwritten") {
    val s = spark
    import s.implicits._
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val initial = keys.map(s.conf.get)
    assert(initial.head == "8", "the caller's width must differ from the sized width")
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 1L)).toDF("src", "dst", "weight")
    val (inside, bound, width, n) = graft.kg.GraphOps.pageRank(edges, 2) { pr =>
      (keys.map(s.conf.get), pr.sparkSession eq s, pr.rdd.getNumPartitions,
        pr.count())
    }
    assert(n == 3L)
    assert(inside == initial, "pageRank wrote the caller's session conf")
    // The loan frame is the caller's, at the graph-sized width.
    assert(bound, "pageRank must lend a caller-bound frame")
    assert(width == 1, s"pageRank's frame has $width partitions")
    val cc = DedupOps.connectedComponents(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
    try {
      assert(cc.sparkSession eq s, "connectedComponents must return a caller-bound frame")
      assert(cc.rdd.getNumPartitions == 1)
      assert(cc.count() == 3L)
    } finally org.apache.spark.sql.graft.CheckpointBlocks.release(cc)
    assert(keys.map(s.conf.get) == initial)
  }

  test("interpretation gates: building numbers and redundancy match the ungated loops") {
    import GoldenFixtures.{interpreter => interp, regions}
    import graft.data.SynthCorpus
    import graft.interpret.MutableAddress
    val handMade = Seq(
      "", "没有数字的地址", "东门3号楼2单元501室", "12东门3号楼2单元", "一二三",
      "路口12号院", "A座B座3栋2单元", "街道9号5栋1单元", "路8号3栋2单元1室",
      "甲乙丙东西南北", "3号楼", "123", "a栋b单元", "十号楼十单元", "巷12号",
      "东门外3号楼2单元501", "路88号A栋3单元502室", "西12层3号楼2单元8室",
      "xx路12-3号", "5组12号", "A12#3单元")
    val texts = handMade ++ GoldenFixtures.addresses ++
      Seq(1L, 2L, 3L, 4L).flatMap { seed =>
        SynthCorpus.corpus(regions, 1500, 30, seed).map(_._2) ++
          SynthCorpus.transcripts(regions, 200, 30, seed).map(_.text)
      }
    def building(t: String, f: MutableAddress => Boolean) = {
      val a = new MutableAddress(t)
      (f(a), a.buildingNum, a.text)
    }
    texts.foreach { t =>
      assert(building(t, interp.extractBuildingNum) == building(t, UngatedInterpret.extract),
        s"extractBuildingNum differs on '$t'")
    }
    val visitor = interp.newVisitor()
    def redundancy(t: String, f: MutableAddress => Boolean) = {
      val a = new MutableAddress(t)
      interp.extractRegion(a, visitor)
      val d = a.division
      (f(a), a.text, Seq(d.province, d.city, d.district, d.street, d.town, d.village))
    }
    texts.foreach { t =>
      assert(redundancy(t, interp.removeRedundancy(_, visitor)) ==
        redundancy(t, UngatedInterpret.removeRedundancy(_, visitor)),
        s"removeRedundancy differs on '$t'")
    }
  }
}

/** The reference's loops without the interpretation gates, as oracles:
  * `extractBuildingNum` (`AddressInterpreter.java:580-630`) as a `find()`
  * loop over every offset, and `removeRedundancy` (`:342-389`) running a
  * trie round at every offset. */
private object UngatedInterpret {
  import java.util.regex.Pattern
  import graft.interpret.{MutableAddress, RegionVisitor}
  import graft.util.Str

  private val P1 = Pattern.compile(
    "((路|街|巷)[0-9]+号)?([0-9A-Z一二三四五六七八九十]+(栋|橦|幢|座|号楼|号|\\#楼?)){0,1}([一二三四五六七八九十东西南北甲乙丙0-9]+(单元|门|梯|层|座))?([0-9]+(室|房)?)?")
  private val PV = Pattern.compile("(栋|幢|橦|号楼|号|\\#|\\#楼|单元|室|房|门)+")
  private val P2 = Pattern.compile("[A-Za-z0-9]+([\\#\\-一－/\\\\]+[A-Za-z0-9]+)+")
  private val P3 = Pattern.compile("[0-9]+组[0-9\\-一]+号?")

  def extract(addr: MutableAddress): Boolean = {
    if (addr.text.isEmpty) return false
    var found = false
    var matcher = P1.matcher(addr.text)
    while (!found && matcher.find()) {
      if (matcher.end() != matcher.start()) {
        var building = Str.substring(addr.text, matcher.start(), matcher.end() - 1)
        var nonEmptyGroups = 0
        var i = 0
        while (i < matcher.groupCount()) {
          if (matcher.group(i) != null) nonEmptyGroups += 1
          i += 1
        }
        if (PV.matcher(building).find() && nonEmptyGroups > 3) {
          var pos = matcher.start()
          if (building.startsWith("路") || building.startsWith("街") ||
              building.startsWith("巷")) {
            pos += building.indexOf("号") + 1
            building = Str.substring(addr.text, pos, matcher.end() - 1)
          }
          addr.buildingNum = building
          addr.setText(Str.head(addr.text, pos))
          found = true
        }
      }
    }
    Seq(P2, P3).foreach { p =>
      if (!found) {
        matcher = p.matcher(addr.text)
        if (matcher.find()) {
          addr.buildingNum = Str.substring(addr.text, matcher.start(), matcher.end() - 1)
          addr.setText(Str.head(addr.text, matcher.start()))
          found = true
        }
      }
    }
    found
  }

  def removeRedundancy(addr: MutableAddress, visitor: RegionVisitor): Boolean = {
    if (addr.text.isEmpty || !addr.division.hasProvince || !addr.division.hasCity)
      return false
    val d = addr.division
    var removed = false
    var endIndex = addr.text.length - 2
    var i = 0
    while (i < endIndex) {
      visitor.reset()
      GoldenFixtures.termIndex.deepMostQuery(addr.text, i, visitor)
      val rd = visitor.resultDivision
      if (visitor.resultMatchCount < 2 && visitor.resultFullMatchCount < 1) i += 1
      else if (!d.province.equals(rd.province) || !d.city.equals(rd.city)) i += 1
      else {
        if (!d.hasDistrict && rd.hasDistrict && rd.district.parentId == d.city.id)
          d.district = rd.district
        if (d.hasDistrict && !d.hasStreet && rd.hasStreet &&
            rd.street.parentId == d.district.id)
          d.street = rd.street
        if (d.hasDistrict && !d.hasTown && rd.hasTown &&
            rd.town.parentId == d.district.id)
          d.setTown(rd.town)
        else if (d.hasDistrict && d.hasTown && d.town.equals(d.street) &&
            rd.hasTown && !rd.town.equals(rd.street) &&
            rd.town.parentId == d.district.id)
          d.setTown(rd.town)
        if (d.hasDistrict && !d.hasVillage && rd.hasVillage &&
            rd.village.parentId == d.district.id)
          d.village = rd.village
        addr.setText(Str.substring(addr.text, visitor.resultEndPosition + 1))
        endIndex = addr.text.length
        i = 0
        removed = true
      }
    }
    removed
  }
}
