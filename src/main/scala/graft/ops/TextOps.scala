package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines, all built
  * from codegen'd `org.apache.spark.sql.functions` (no UDFs in the hot path):
  * token counting, quality scoring, language-ID heuristic, fingerprinting.
  * Each is a narrow projection — scales embarrassingly with input splits.
  */
object TextOps {

  /** Whitespace + BPE-ish token count: words = runs of non-space; subword
    * tokens approximated as ceil(chars/4) for long words. */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = size(split(trim(col(textCol)), "\\s+"))
    docs.withColumn("n_words", when(length(trim(col(textCol))) === 0, 0).otherwise(words))
      .withColumn("n_tokens_est",
        (length(regexp_replace(col(textCol), "\\s+", "")) + lit(3)).divide(4)
          .cast("bigint"))
  }

  /** Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005) over the
    * corpus token stream — the bounded-memory vocabulary-statistics
    * primitive a 100 TB corpus needs where an exact token→count table
    * would itself be corpus-sized: the sketch is a FIXED `depth`×256
    * counter table (mergeable by addition, so Spark's map-side partial
    * aggregation IS the distributed sketch merge; at extreme scale the
    * same math runs as one local sketch per partition via mapPartitions
    * and a tiny tree-reduce). Bucket keys are the first two hex chars of
    * md5(token + "#" + row) — width 256 per row, engine-portable with no
    * integer hex conversion, the same md5 contract the fingerprint oracle
    * (q13) already pins cross-engine.
    *
    * Output: the `topK` exact-frequency tokens with BOTH their exact count
    * and their sketch estimate — cms_est ≥ exact_cnt always (the CMS
    * one-sided error guarantee; equality iff no colliding token shares all
    * `depth` buckets). Everything is exact integer arithmetic, so the
    * DuckDB oracle replays tokenization, the counter table, and the
    * min-over-rows estimates and must agree exactly. The exact-count side
    * here doubles as the accuracy witness; a pure-sketch deployment drops
    * it. */
  def heavyHitters(docs: DataFrame, textCol: String = "text",
      depth: Int = 4, topK: Int = 50): DataFrame = {
    // No scan-parallelism floor here (round 6, measured): whitespace
    // tokenization is cheap per input byte — spreading the scan cost more in
    // added exchanges than the serial explode it parallelized (0.9→1.5 s),
    // unlike the shingle family where the same floor won 2-4×.
    val toks = docs.select(explode(split(trim(col(textCol)), "\\s+")).as("t"))
      .where(col("t") =!= "")
    def bucketCols(tok: Column) = (0 until depth).map { r =>
      struct(lit(r).as("r"),
        substring(md5(concat(tok, lit("#" + r))), 1, 2).as("b"))
    }
    val exact = toks.groupBy("t").agg(count(lit(1)).as("exact_cnt"))
    val top = exact.orderBy(col("exact_cnt").desc, col("t").asc).limit(topK)
    val ctr = toks.select(explode(array(bucketCols(col("t")): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val probes = top.select(col("t"), col("exact_cnt"),
        explode(array(bucketCols(col("t")): _*)).as("rb"))
      .select(col("t"), col("exact_cnt"),
        col("rb.r").as("r"), col("rb.b").as("b"))
    // The counter table is depth×256 rows by construction — broadcast.
    probes.join(broadcast(ctr), Seq("r", "b"))
      .groupBy(col("t").as("token"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_est"))
  }

  /** HLL registers: 256 (two md5 hex chars) — rel. error ≈ 1.04/√256 = 6.5%. */
  val HllM = 256

  /** α_m·m² for m=256 (Flajolet et al. 2007 bias constant). Computed ONCE
    * here and embedded in the oracle SQL as its shortest-round-trip decimal
    * literal, so both engines hold the bit-identical double. */
  val HllAlphaM2: Double = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0

  /** HyperLogLog distinct-count estimate (Flajolet, Fusy, Gandouet, Meunier
    * 2007) of the per-group token vocabulary — the cardinality companion to
    * [[heavyHitters]]'s count-min frequency sketch, and the bounded-memory
    * primitive a 100 TB corpus needs where the exact distinct-token table is
    * itself corpus-sized. The sketch is a FIXED 256-register max table per
    * group (register = max leading-zero rank seen), so Spark's map-side
    * partial MAX aggregation IS the distributed sketch merge: duplicate
    * tokens collapse inside each task and the shuffle carries at most
    * groups×256 rows regardless of corpus size.
    *
    * Engine-portable by construction (the q13/q44 md5-string contract):
    * register index = first two hex chars of md5(token); the rank ρ comes
    * from hex chars 3..10 (a 32-bit window) via STRING arithmetic — stripped
    * leading-'0' hex chars × 4 plus a CASE table on the first non-zero hex
    * digit — no integer hex conversion, no bit ops, no log2 whose rounding
    * engines could disagree on. The harmonic sum Σ2^-M_j is EXACT in IEEE
    * double (≤256 dyadic terms spanning 2^0..2^-33 need 42 mantissa bits, so
    * every partial sum is exact in any order — summing order cannot matter),
    * each 2^-M_j is an exact table lookup of 1.0/(1L<<M_j), and α_m·m² is the
    * shared literal above — so the only cross-engine float risk is the final
    * ln in the small-range linear-counting branch, bounded by the round(…,4)
    * contract. The exact distinct count rides alongside as the accuracy
    * witness (a pure-sketch deployment drops it — that column is the one
    * that does not scale). */
  def hllDistinct(docs: DataFrame, groupCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(groupCol).as("g"),
        explode(split(trim(col(textCol)), "\\s+")).as("t"))
      .where(col("t") =!= "")
    val h = md5(col("t"))
    // ρ = leading-zero bits of the 32-bit window (md5 hex chars 3..10) + 1;
    // all-zero window → 33. Pure string arithmetic, identical in DuckDB.
    val stripped = regexp_replace(substring(h, 3, 8), "^0+", "")
    val firstNz = substring(stripped, 1, 1)
    val lzInNibble = when(firstNz === "1", 3)
      .when(firstNz.isin("2", "3"), 2)
      .when(firstNz.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    val rho = when(length(stripped) === 0, lit(33))
      .otherwise((lit(8) - length(stripped)) * 4 + lzInNibble + 1)
    val regs = toks
      .groupBy(col("g"), substring(h, 1, 2).as("b"))
      .agg(max(rho).as("m_j"))
    // 2^-M_j as an exact-dyadic literal table (shiftleft needs a literal
    // shift in the Scala API; the lookup stays whole-stage codegen'd).
    val inv2 = element_at(
      array((1 to 33).map(k => lit(1.0 / (1L << k).toDouble)): _*),
      col("m_j").cast("int"))
    val sketch = regs.groupBy(col("g")).agg(
      sum(inv2).as("s_present"), count(lit(1)).as("n_present"))
    val exact = toks.groupBy(col("g"))
      .agg(count_distinct(col("t")).as("n_exact"))
    val v = lit(HllM) - col("n_present") // empty registers (M_j = 0)
    val harm = col("s_present") + v.cast("double") // absent registers add 2^0
    val eRaw = lit(HllAlphaM2) / harm
    val est = when(eRaw <= lit(2.5 * HllM) && v > 0,
        lit(HllM.toDouble) * log(lit(HllM.toDouble) / v.cast("double")))
      .otherwise(eRaw)
    exact.join(sketch, "g")
      .select(col("g").as(groupCol), col("n_exact"),
        round(est, 4).as("hll_est"), v.cast("bigint").as("n_zero_regs"))
  }

  /** Quality-scoring signals: length, word stats, punctuation/digit/upper
    * ratios, stopword ratio — the standard pre-training quality heuristics. */
  def qualitySignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val len = length(t)
    val nWords = size(split(trim(t), "\\s+"))
    val nPunct = len - length(regexp_replace(t, "[\\.,;:!\\?]", ""))
    val nDigit = len - length(regexp_replace(t, "[0-9]", ""))
    val stop = stopwordHits(t)
    docs
      .withColumn("n_len", len.cast("bigint"))
      .withColumn("n_words", nWords.cast("bigint"))
      .withColumn("n_punct", nPunct.cast("bigint"))
      .withColumn("n_digit", nDigit.cast("bigint"))
      .withColumn("stop_hits", stop.cast("bigint"))
      .withColumn("mean_word_len",
        round(length(regexp_replace(t, "\\s+", "")).cast("double") /
          greatest(nWords.cast("double"), lit(1.0)), 4))
  }

  /** Occurrences of ' the '-style English stopword markers — arithmetic that
    * is bit-identical across engines (length difference, no regex). */
  def stopwordHits(t: Column): Column =
    Seq(" the ", " and ", " of ", " to ", " a ").map { w =>
      (length(t) - length(replace(t, lit(w), lit("")))) / w.length
    }.reduce(_ + _)

  /** Deterministic fingerprints: md5 content hash + a 64-bit polynomial
    * rolling hash over the normalized text (xxhash64 of lowercased,
    * space-collapsed content) for near-exact dedup buckets. */
  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("md5", md5(col(textCol)))
      .withColumn("norm_hash",
        xxhash64(lower(regexp_replace(col(textCol), "\\s+", " "))))

  /** `langIdGuess`'s stop words per language, in tie-break order; the q14
    * oracle spells out the same terms. */
  val LangStopWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"), "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "los", "que"), "fr" -> Seq("le", "les", "et"))

  /** Language-ID heuristic over marker-token hit counts. SQL-expressible so
    * it stays oracle-checkable; real deployments swap in a fastText-style
    * model via the same projection shape. */
  def langIdGuess(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def hits(words: Seq[String]): Column = words.map { w =>
      (length(t) - length(replace(t, lit(" " + w + " "), lit("")))) / (w.length + 2)
    }.reduce(_ + _)
    val Seq(en, de, es, fr) = LangStopWords.map(l => hits(l._2))
    docs.withColumn("en_hits", en.cast("bigint"))
      .withColumn("de_hits", de.cast("bigint"))
      .withColumn("es_hits", es.cast("bigint"))
      .withColumn("fr_hits", fr.cast("bigint"))
      .withColumn("lang_guess",
        when(en >= de && en >= es && en >= fr, "en")
          .when(de >= es && de >= fr, "de")
          .when(es >= fr, "es")
          .otherwise("fr"))
  }

  /** BM25 top-k retrieval (Robertson & Walker, SIGIR 1994) — the other
    * standard lexical ranking next to the engine's TF-IDF-cosine linking
    * core: query documents retrieve their `topK` closest corpus documents
    * through an inverted-index join, scored by
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with the
    * Robertson idf ln((N−df+0.5)/(df+0.5)+1).
    *
    * Scale shape: the postings join is keyed by token (the inverted index);
    * `maxDf` drops stopword-frequency tokens from BOTH sides before the
    * join — the same skew guard as [[graft.ops.DedupOps.ngramJaccard]]'s
    * df-cap, and cheap here because high-df terms carry near-zero idf
    * anyway. Query terms are capped at `maxQueryTerms` by first occurrence
    * (a per-query-doc bounded window). All inputs to the score are exact
    * integers (tf, df, dl, N, Σdl), so both engines form bit-identical
    * doubles at the leaves; the ln and the per-pair sum sit under the
    * round(…,6) contract (the q37 mean-ln precedent). Ties in the top-k cut
    * break by (rounded score desc, doc id asc) — cross-engine-reproducible.
    * Returns (qid, did, bm25, rank). */
  def bm25TopK(docs: DataFrame, queryPred: Column, idCol: String = "doc_id",
      textCol: String = "text", k1: Double = 1.2, b: Double = 0.75,
      maxQueryTerms: Int = 8, maxDf: Long = 200, topK: Int = 5,
      maxDfFrac: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // No scan-parallelism floor here (round 6, measured): `toks`/`tf` feed
    // several plan branches, so an added repartition exchange multiplies
    // across them and cost 2× the serial explode it parallelized — the
    // whitespace split is cheap per byte, unlike the shingle family.
    val toks = docs.select(col(idCol).cast("long").as("did"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "t")))
      .where(col("t") =!= "")
    val tf = toks.groupBy("did", "t")
      .agg(count(lit(1)).as("tf"), min("pos").as("fpos"))
    val dl = toks.groupBy("did").agg(count(lit(1)).as("dl"))
    // Corpus scalars (N docs, Σdl) ride IN-PLAN as a broadcast 1-row cross
    // join — no eager driver job, no second tokenization pass, and an empty
    // corpus degrades to an empty result instead of a driver error. Both
    // engines derive the identical avgdl double from the same exact longs.
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
    // Proportional df-cap (round 6, ADVICE #2): with `maxDfFrac` set the cap
    // is ceil(frac·|docs|) computed IN-PLAN from a broadcast 1-row count over
    // the raw docs table (the table count, like the oracle's
    // `ceil(0.9 * (SELECT count(*) FROM documents))` — NOT the tokenized-doc
    // count in `stats`, which drops whitespace-only docs), instead of an
    // eager full-table docs.count() at plan-build time. Both paths form the
    // identical double product + ceil, so the cap value cannot differ.
    val dfRaw = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val dfT = maxDfFrac match {
      case None => dfRaw.where(col("df") <= maxDf)
      case Some(frac) =>
        val cap = docs.agg(
          ceil(lit(frac) * count(lit(1))).cast("long").as("df_cap"))
        dfRaw.crossJoin(broadcast(cap)).where(col("df") <= col("df_cap"))
          .select("t", "df")
    }
    val qids = docs.where(queryPred).select(col(idCol).cast("long").as("qid"))
    val qterms = tf.join(qids, col("did") === col("qid"))
      .join(dfT, "t") // capped terms can't contribute — drop before ranking
      .withColumn("qrank", row_number().over(
        Window.partitionBy("qid").orderBy(col("fpos"), col("t"))))
      .where(col("qrank") <= maxQueryTerms)
      .select("qid", "t")
    val idf = log(
      (col("n_docs").cast("double") - col("df") + lit(0.5))
        / (col("df") + lit(0.5)) + lit(1.0))
    val avgdl = col("tot_dl").cast("double") / col("n_docs")
    // Rename the postings side: qterms derives from tf, and a raw re-join
    // of tf would trip Spark's ambiguous-self-join detection.
    val postings = tf.select(col("did"), col("t"), col("tf"))
      .toDF("p_did", "p_t", "p_tf")
      .join(dl.toDF("p_did2", "p_dl"), col("p_did") === col("p_did2"))
      .select("p_did", "p_t", "p_tf", "p_dl")
    val perTerm = qterms
      .join(dfT, "t")
      .join(postings, col("p_t") === col("t"))
      .where(col("p_did") =!= col("qid"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("p_did").as("did"),
        (idf * (col("p_tf") * lit(k1 + 1.0)) /
          (col("p_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("p_dl") / avgdl)))
          .as("s"))
    perTerm.groupBy("qid", "did").agg(round(sum(col("s")), 6).as("bm25"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("bm25").desc, col("did").asc))
        .cast("bigint"))
      .where(col("rank") <= topK)
  }

  /** Repetition signals (the Gopher-rules quality family): the duplicate
    * word-bigram fraction — boilerplate and degenerate generations repeat
    * phrases, so `1 - distinct_bigrams/bigrams` separates them from natural
    * text. Pure codegen'd array expressions (`transform(sequence(...))`,
    * `array_distinct`), a narrow projection: no shuffle, scales with input
    * splits. Docs with fewer than 2 words report 0 bigrams and fraction 0. */
  def repetitionSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    val nw = size(words)
    val bigrams = transform(sequence(lit(1), nw - 1),
      i => concat(element_at(words, i), lit(" "), element_at(words, i + 1)))
    val nBg = (nw - 1).cast("bigint")
    val nDist = size(array_distinct(bigrams)).cast("bigint")
    docs
      .withColumn("n_bigrams", when(nw < 2, 0L).otherwise(nBg))
      .withColumn("n_distinct", when(nw < 2, 0L).otherwise(nDist))
      .withColumn("dup_bigram_frac",
        when(nw < 2, 0.0).otherwise(
          round(lit(1.0) - nDist.cast("double") / nBg.cast("double"), 4)))
  }

  /** Corpus-trained bigram language-model scores — the perplexity-style
    * quality filter of a pretraining pipeline (CCNet/Gopher lineage: score
    * every document under a language model and cut the tail; here the LM is
    * an add-k-smoothed bigram model trained on the corpus ITSELF, so the
    * operator is self-contained — no external model artifact): per document,
    * the mean log-probability of its word bigrams
    * `avg_i ln( (c(w_i,w_{i+1}) + k) / (c(w_i) + k·V) )`,
    * where c() are corpus-wide bigram/left-unigram counts and V is the
    * corpus vocabulary size. Degenerate/boilerplate text scores HIGH (its
    * bigrams dominate the corpus), incoherent or out-of-language text
    * scores LOW — both tails are cut candidates.
    *
    * Shape for 100 TB: the count tables are two hash aggregations with
    * map-side partial combine (vocabulary-bounded, not corpus-bounded);
    * scoring is two hash joins keyed on (w1,w2) and w1 — the w1 join is the
    * skew point (stopword heads), which AQE's skew-join splitting handles
    * because the build side is a per-key SINGLE row (a count), never a list.
    * Mean-of-ln rounded to 6 decimals: summation order differs across
    * engines at ~1e-15 while ln magnitudes are O(10), so 6 decimals is the
    * same cross-engine quantization contract as the cosine family. Docs
    * with <2 words score 0.0 with n_bigrams=0. */
  def bigramLmScores(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Double = 0.5): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    val nw = size(words)
    val bigramIdx = when(nw >= 2, sequence(lit(1), nw - 1))
      .otherwise(array().cast("array<int>"))
    // Scan-parallelism floor — the bigram explode is the expensive narrow
    // expansion here (no-op when the scan already has cluster-width splits).
    val spread = Par.scanSpread(docs.select(col(idCol), col(textCol)))
    val bg = spread.select(col(idCol).as("sid"),
      explode(transform(bigramIdx, i => struct(
        element_at(words, i).as("w1"),
        element_at(words, i + 1).as("w2")))).as("b"))
      .select(col("sid"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    // V: corpus vocabulary (all token positions, all docs). Rides IN-PLAN as
    // a broadcast 1-row cross join (round 6 — the q48 df-cap pattern from
    // ADVICE #2) instead of an eager full-scan distinct().count() at
    // plan-build time: one fewer full tokenization pass per invocation, and
    // both paths feed the identical exact-BIGINT count into k·V.
    val vocab = spread.select(explode(words).as("tok")).distinct()
      .agg(count(lit(1)).cast("double").as("v"))
    val scored = bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("sid")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(log((col("c2") + k) / (col("c1") + col("v") * k))).as("lp"))
    docs.select(col(idCol))
      .join(scored.withColumnRenamed("sid", idCol), Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("avg_logprob",
        coalesce(round(col("lp"), 6), lit(0.0)))
      .drop("lp")
  }

  /** PII patterns shared by the Spark plan and the DuckDB oracle — kept to
    * the regex subset where Java `Pattern` and RE2 agree (no lookaround, no
    * backrefs, plain character classes and bounded quantifiers). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+\\d{1,3}-\\d{3}-\\d{4}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII detection + redaction — the compliance scrub every pretraining
    * corpus passes through before tokenization: count and mask emails,
    * phone numbers, and IPv4 addresses. Counts are computed on the ORIGINAL
    * text; redaction applies email → phone → ip in that order so a masked
    * span is never re-matched by a later pattern. Pure codegen'd
    * `regexp_count`/`regexp_replace` — a narrow shuffle-free projection that
    * scales with input splits; at 100 TB this is a map-only stage whose
    * filters/masks push straight down onto the scan output. */
  def piiSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_emails", regexp_count(t, lit(EmailRe)).cast("bigint"))
      .withColumn("n_phones", regexp_count(t, lit(PhoneRe)).cast("bigint"))
      .withColumn("n_ips", regexp_count(t, lit(Ipv4Re)).cast("bigint"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>"))
  }

  /** Multiplier/offset of the sampling hash — a fixed LCG-style affine map
    * over Z_p (p = 2^31-1, [[DedupOps.HashP]]). Applied as
    * `((key mod p) * A + B) mod p` so every intermediate stays < 2^62:
    * engines that ERROR on BIGINT overflow (DuckDB) and engines that wrap
    * (JVM) compute the identical value. */
  val SampleA: Long = 1103515245L % DedupOps.HashP
  val SampleB: Long = 12345L

  /** `rate` → inclusive-exclusive threshold on the [0, p) hash range. Both
    * the Spark plan and the generated oracle SQL embed THIS Long, so the
    * rate→threshold rounding happens exactly once, in one engine. */
  def sampleThreshold(rate: Double): Long =
    (rate * DedupOps.HashP.toDouble).toLong

  /** Deterministic epoch shuffle + token-budget sharding — the data-ORDERING
    * step between a cleaned corpus and the training loop: a seed-keyed
    * pseudo-random permutation (the same overflow-safe affine hash family as
    * [[stratifiedSample]], so the order is a pure row function: stable
    * across engines, retries, and cluster sizes) and contiguous shards of
    * ~`shardTokens` tokens cut along the running token sum (a doc's shard =
    * its starting offset ÷ budget).
    *
    * Scale shape: the global prefix sum is NOT a single-partition window —
    * that is the classic 100 TB killer. It is the two-pass distributed scan:
    * `repartitionByRange` + `sortWithinPartitions` impose the total
    * (shuffle_key, id) order, one tiny job collects PER-PARTITION token
    * totals (driver state = one Long per partition), and a narrow second
    * pass stamps exact offsets. Shard position is a per-shard window
    * (bounded partitions). Output is provably partitioning-invariant
    * (OpsSpec runs it at 1 and 7 input partitions and compares bytes).
    */
  def epochShards(docs: DataFrame, seed: Long, shardTokens: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(shardTokens > 0)
    val p = DedupOps.HashP
    val skey = pmod(pmod(col(idCol).cast("long"), lit(p)) * lit(SampleA)
      + lit(SampleB + seed), lit(p))
    val ntok = (length(regexp_replace(col(textCol), "\\s+", "")) + lit(3))
      .divide(4).cast("bigint")
    val keyed = docs.select(col(idCol).cast("long").as("id"),
      skey.as("shuffle_key"), ntok.as("n_tokens_est"))
    val stamped = OrderedScan.exclusivePrefixSum(keyed,
        Seq(col("shuffle_key"), col("id")), col("n_tokens_est"),
        "token_offset")
      .withColumn("shard_id", expr(s"token_offset div ${shardTokens}L"))
    import org.apache.spark.sql.expressions.Window
    stamped
      .withColumn("shard_pos", row_number().over(Window
        .partitionBy("shard_id").orderBy("shuffle_key", "id"))
        .cast("bigint"))
      .withColumnRenamed("id", idCol)
  }

  /** Deterministic stratified downsampling — the rebalancing step of a
    * training-data pipeline (cap the head language, keep the tail): a row is
    * kept iff `hash(key) < threshold(rate(stratum))`. Hash-threshold (not
    * `sample()`/RAND) so the decision is a pure function of the row: stable
    * across retries, partitionings, cluster sizes, and engines — re-running
    * the pipeline on 100 TB yields byte-identical samples, and a row's fate
    * never changes when data moves between splits. The plan is a narrow
    * filter + projection: no shuffle, no per-stratum pass, pushdown-eligible;
    * strata rates ride in one inlined CASE (a handful of literals, never a
    * join).
    *
    * Mirrors the reference's deterministic test/train splitting idiom
    * (random-free, id-keyed) at corpus scale. Returns the kept rows with
    * `sample_key` (the hash) and `sample_thr` (the stratum's threshold) so
    * downstream audits can recompute keep-rates without re-hashing.
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double,
      keyCol: String = "doc_id"): DataFrame = {
    val p = DedupOps.HashP
    val hkey = pmod(pmod(col(keyCol).cast("long"), lit(p)) * lit(SampleA)
      + lit(SampleB), lit(p))
    val thr = rates.toSeq.sortBy(_._1).foldLeft(lit(sampleThreshold(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(stratumCol) === stratum, lit(sampleThreshold(rate))).otherwise(acc)
    }
    docs.withColumn("sample_key", hkey)
      .withColumn("sample_thr", thr.cast("long"))
      .where(col("sample_key") < col("sample_thr"))
  }
}
