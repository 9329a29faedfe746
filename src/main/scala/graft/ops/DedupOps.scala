package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CacheScope, SessionRdd}

/** Deduplication operators for training-data pipelines, Spark-first:
  *
  *  - exact: hash-groupBy on content (one shuffle on the hash, map-side
  *    partial aggregation; at 100 TB, group on `xxhash64(text)` so the shuffle
  *    key is 8 bytes, not the document).
  *  - n-gram Jaccard: shingle explode → inverted-index self-join on shingle →
  *    pair-count aggregation. The classic candidate-pair generator; bounded by
  *    restricting one side (query set) or by frequency-capping shingles.
  *  - MinHash + LSH banding: k permutation-hashes per shingle set via
  *    `transform` over a literal seed array (pure column expressions, no UDF),
  *    then band-hash grouping so only same-bucket pairs are compared.
  *  - SimHash: 64-bit sign-aggregated fingerprint; near-dups differ in few
  *    bits.
  *
  * All operators keep the heavy side shuffled at most once and never collect.
  */
object DedupOps {

  /** Exact dedup: keep the smallest id per identical text. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"), md5(col(textCol)).as("text_md5"))

  /** Character shingles (n-grams) of the raw text as an array column —
    * `transform(sequence(...))` stays inside codegen. */
  def shingles(textCol: Column, n: Int): Column =
    when(length(textCol) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(textCol) - (n - 1)),
        i => textCol.substr(i, lit(n))))

  /** Distinct-shingle explode: (id, shingle) rows. The input is projected to
    * (id, text) and floored to cluster-width partitions first
    * ([[Par.scanSpread]]): the explode multiplies each row ~|text|× and
    * hashes every shingle, so an unsplittable single-file scan would run the
    * whole expansion in one task (measured 2-3.5 s single-task stages at
    * sf0.1); at scale the input already has enough splits and the floor is a
    * no-op. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    Par.scanSpread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("sid"),
        explode(array_distinct(shingles(col(textCol), n))).as("shingle"))

  /** n-gram Jaccard similarity of a query subset vs the whole corpus:
    * inverted-index join on shingle, |A∩B| by pair count, |A| and |B| from
    * per-doc distinct counts. Returns (qid, did, round(jaccard, 4)).
    *
    * `maxShingleDf` is the skew guard: a shingle appearing in more than that
    * many documents (a "stopword" shingle) is dropped from BOTH join sides
    * before the inverted-index join — one hot shingle otherwise produces a
    * df² pair explosion in a single task at scale. Denominators still use the
    * full per-doc shingle counts, so capped pairs only ever LOSE intersection
    * mass (the standard conservative approximation). */
  def ngramJaccard(docs: DataFrame, queryPred: Column, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, minJaccard: Double = 0.0,
      maxShingleDf: Long = Long.MaxValue): DataFrame = {
    val base = shingleRows(docs, idCol, textCol, n)
    val sizes = base.groupBy(col("sid")).agg(count(lit(1)).as("nsh"))
    val qBase = shingleRows(docs.where(queryPred), idCol, textCol, n)
      .withColumnRenamed("sid", "qid")
    val (rows, qRows) =
      if (maxShingleDf == Long.MaxValue) (base, qBase)
      else {
        // Hot-shingle set is tiny by construction — broadcast the anti-join.
        val hot = base.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .where(col("df") > maxShingleDf).select("shingle")
        (base.join(broadcast(hot), Seq("shingle"), "left_anti"),
          qBase.join(broadcast(hot), Seq("shingle"), "left_anti"))
      }
    val inter = qRows.join(rows, "shingle")
      .where(col("qid") =!= col("sid"))
      .groupBy(col("qid"), col("sid")).agg(count(lit(1)).as("shared"))
    inter
      .join(sizes.withColumnRenamed("sid", "qid").withColumnRenamed("nsh", "qn"), "qid")
      .join(sizes, "sid")
      .select(col("qid"), col("sid").as("did"),
        round(col("shared").cast("double") / (col("qn") + col("nsh") - col("shared")), 4)
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** [[sortedNeighborhood]]'s sort-key length, shared with the q47 oracle. */
  val SortKeyPrefixLen = 64

  /** SORTED-NEIGHBORHOOD dedup blocking (Hernández & Stolfo, SIGMOD 1995) —
    * the sort-based counterpart to the hash-based candidate generators here
    * (MinHash-LSH bands, SimHash buckets, embedding LSH): order the corpus
    * by a normalized sort key and compare each document only to its `w`
    * neighbors in that order. Shared-prefix near-dups (templated documents,
    * boilerplate-headed pages, whitespace/case variants of one text) land
    * adjacent, and candidate volume is O(N·w) BY CONSTRUCTION — no hot-key
    * blowup is possible, the property hash blocking needs df-caps and skew
    * guards to approximate.
    *
    * The global order is NOT a single-partition window (the classic 100 TB
    * killer): it is [[OrderedScan.exclusivePrefixSum]] with weight 1 — the
    * same two-pass scan as `epochShards` — over the total (key, id) order.
    * The sort key is a BOUNDED prefix ([[SortKeyPrefixLen]] chars) of the
    * normalized text: the method's own premise is that near-dups share a
    * long prefix, so ordering by the whole document would ship and compare
    * full bodies as range-partition keys for no extra adjacency (ties
    * beyond the prefix fall back to id order). Neighbor pairs are an
    * equi-join on the rank block `rank div w` (each left row probes its own
    * block and the next, so every 0 < Δrank ≤ w pair matches exactly once),
    * and every candidate is verified by the exact distinct-shingle Jaccard
    * before emission. Ranks are a pure function of the input (the total
    * order has no ties — id breaks them), so the output is
    * partitioning-invariant and the DuckDB oracle recomputes it from one
    * global window + the same verify join. Returns (a, b, jaccard) with a
    * the lower-ranked doc and round(jaccard,4) ≥ `tau`. */
  def sortedNeighborhood(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 3, n: Int = 8,
      tau: Double = 0.5): DataFrame = {
    require(w > 0)
    // (An A/B of a Par.scanSpread floor on this projection showed a small
    // measured LOSS: the rank input feeds repartitionByRange immediately, so
    // the added exchange only saves the range-sampler's one-task scan and
    // costs more than that. Kept unspread; the shingle-verify side below
    // rides shingleRows' spread.)
    val keyed = docs.select(col(idCol).cast("long").as("id"),
      substring(lower(regexp_replace(trim(col(textCol)), "\\s+", " ")),
        1, SortKeyPrefixLen).as("skey"))
    val ranked = OrderedScan.exclusivePrefixSum(keyed,
        Seq(col("skey"), col("id")), lit(1L), "rnk")
      .select("id", "rnk")
    val lhs = ranked.select(col("id").as("a"), col("rnk").as("ra"),
      explode(array(expr(s"rnk div $w"), expr(s"rnk div $w") + 1)).as("blk"))
    val rhs = ranked.select(col("id").as("b"), col("rnk").as("rb"),
      expr(s"rnk div $w").as("blk"))
    val cand = lhs.join(rhs, "blk")
      .where(col("rb") > col("ra") && col("rb") - col("ra") <= w)
      .select("a", "b")
    val sh = shingleRows(docs, idCol, textCol, n)
    val sizes = sh.groupBy(col("sid")).agg(count(lit(1)).as("nsh"))
    val inter = cand
      .join(sh.select(col("sid").as("a"), col("shingle")), "a")
      .join(sh.select(col("sid").as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    inter
      .join(sizes.select(col("sid").as("a"), col("nsh").as("na")), "a")
      .join(sizes.select(col("sid").as("b"), col("nsh").as("nb")), "b")
      .select(col("a"), col("b"),
        round(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 4)
          .as("jaccard"))
      .where(col("jaccard") >= tau)
  }

  /** Benchmark decontamination — the training-data hygiene step that keeps
    * eval answers out of the training corpus: flag every corpus document
    * sharing at least one n-gram with the eval/benchmark set, with the hit
    * count for audit thresholds. Returns (idCol, n_hits) for contaminated
    * docs only.
    *
    * Shape for 100 TB: eval sets are tiny (MBs) next to the corpus, so their
    * distinct shingles are BROADCAST — the corpus side is a narrow
    * explode → broadcast-hash semi join → map-side-combinable per-doc count,
    * with no corpus shuffle beyond the per-doc aggregation. Character
    * n-grams (default 16 ≈ a few words) rather than word tokens keep the
    * expression codegen'd and language-agnostic. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 16): DataFrame = {
    val evalShingles =
      shingleRows(evalSet, idCol, textCol, n).select("shingle").distinct()
    shingleRows(corpus, idCol, textCol, n)
      .join(broadcast(evalShingles), Seq("shingle"))
      .groupBy(col("sid")).agg(count(lit(1)).as("n_hits"))
      .select(col("sid").as(idCol), col("n_hits"))
  }

  /** The Bloom bit-position hash family: k independent universal hashes,
    * seeded apart from the MinHash/SimHash families, applied to an
    * xxhash64-derived base hash (the filter is invisible to the oracle —
    * output equality with [[decontaminate]] is the contract — so the
    * engine-portable polynomial is not needed and xxhash64's unbounded
    * shingle length is: the base-31 polynomial overflows past ~13 chars).
    * Shared by build and probe sides so positions line up. */
  def bloomParams(k: Int): Seq[(Long, Long)] = hashParams(k, 7)

  /** [[decontaminate]] behind a BLOOM-FILTER prefilter — the broadcast-sketch
    * join-pruning pattern for the regime where even the eval set's distinct
    * shingle STRINGS are too big to broadcast (a wide eval suite at 100 TB:
    * tens of GB of 16-char shingles), but a fixed `mBits` bit array (default
    * 2^20 bits = 128 KB) is not: every executor drops the overwhelming
    * majority of corpus shingles against the bitset BEFORE the exact join,
    * so the broadcast-join probe side shrinks from all corpus shingles to
    * true hits + the Bloom false-positive residue.
    *
    * The OUTPUT is pinned identical to [[decontaminate]]: Bloom membership
    * is one-sided (no false negatives — every true hit's k positions were
    * set by the build side), and survivors still pass through the exact
    * shingle equi-join, so false positives die there and the hit counts
    * cannot differ. The driver checks exactly that: q46 shares q30's DuckDB
    * oracle. The filter is built DISTRIBUTED (eval shingles → k positions
    * each → distinct) and collected bounded by `mBits` rows (the IVF
    * centroid-table pattern); the probe is a typed narrow mapPartitions
    * against the broadcast word array — the one place a Column expression
    * genuinely cannot index a 2^20-bit side structure. Unlike
    * [[decontaminate]], the verify join carries NO broadcast hint: this
    * variant exists for the regime where the eval shingle strings are too
    * big to broadcast, so the exact join is shingle-keyed shuffle on both
    * sides — affordable precisely because the corpus side arrives
    * Bloom-shrunk to true hits + the false-positive residue. */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 16, mBits: Int = 1 << 20, kHash: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val params = bloomParams(kHash)
    val posCols = params.map { case (a, b) =>
      (pmod(col("h") * lit(a) + lit(b), lit(HashP)) % lit(mBits.toLong))
        .cast("long")
    }
    // ONE eval shingle scan serves both the filter build and the verify
    // join (the eval side is the one assumed large here).
    CacheScope { cache =>
      val evalShingles = cache.persist(shingleRows(evalSet, idCol, textCol, n)
        .select("shingle").distinct())
      val setPositions = evalShingles
        .withColumn("h", pmod(xxhash64(col("shingle")), lit(HashP)))
        .select(explode(array(posCols: _*)).as("pos"))
        .distinct()
        .as[Long].collect() // ≤ mBits rows by construction — driver-bounded
      val words = new Array[Long]((mBits + 63) >> 6)
      setPositions.foreach { p => words(p.toInt >> 6) |= 1L << (p.toInt & 63) }
      val bcWords = spark.sparkContext.broadcast(words)
      val survivors = shingleRows(corpus, idCol, textCol, n)
        .withColumn("h", pmod(xxhash64(col("shingle")), lit(HashP)))
        .select(col("sid"), col("shingle"), col("h"))
        .as[(Long, String, Long)]
        .mapPartitions { it =>
          val w = bcWords.value
          it.filter { case (_, _, h) =>
            params.forall { case (a, b) =>
              val p = ((h * a + b) % HashP % mBits).toInt
              (w(p >> 6) & (1L << (p & 63))) != 0L
            }
          }
        }.toDF("sid", "shingle", "h")
      // Materialized before the scope frees the shared eval-shingle table.
      cache.checkpoint(survivors.join(evalShingles, Seq("shingle"))
        .groupBy(col("sid")).agg(count(lit(1)).as("n_hits"))
        .select(col("sid").as(idCol), col("n_hits")))
    }
  }

  /** FUZZY benchmark decontamination: flag corpus documents whose
    * MinHash-LSH banded signature collides with ANY eval/benchmark document,
    * then verify each candidate by the EXACT shingle-set Jaccard — the
    * paraphrase-level contamination [[decontaminate]]'s exact n-gram join
    * misses (light rewording preserves most shingles, so the minhash bands
    * still collide while any single long n-gram may not survive).
    *
    * Output per flagged corpus doc: candidate count, count with
    * round(jaccard, 6) ≥ `tau` (the audit-threshold contamination verdict),
    * and the max jaccard. Exact integer set sizes + one rounded division —
    * DuckDB replays signatures, banding, candidates, and the verify join
    * from the same portable polynomial hashes as q9.
    *
    * Scale shape: the eval set is tiny next to the corpus, so its banded
    * keys, shingle hashes, and sizes are BROADCAST; the corpus side pays
    * one signature aggregation and one narrow broadcast band join — no
    * corpus shuffle. Only candidate pairs (corpus docs that banded with
    * some eval doc) enter the exact-verify join. */
  def decontaminateFuzzy(corpus: DataFrame, evalSet: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 5, k: Int = 32, bands: Int = 8, tau: Double = 0.5): DataFrame = {
    val rowsPerBand = k / bands
    def banded(df: DataFrame, out: String): DataFrame = {
      val sig = minHashSignature(df, idCol, textCol, n, k)
      val bandCols = (0 until bands).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"mh_$i"))
        struct(lit(b).as("band"), concat_ws("_", cols: _*).as("bh"))
      }
      sig.select(col("sid").as(out), explode(array(bandCols: _*)).as("bk"))
        .select(col(out), col("bk.band").as("band"), col("bk.bh").as("bh"))
    }
    val cand = banded(corpus, "sid")
      .join(broadcast(banded(evalSet, "eid")), Seq("band", "bh"))
      .select("sid", "eid").distinct()
    val cSh = shingleRows(corpus, idCol, textCol, n)
      .withColumn("h", shingleHash(col("shingle"), n))
      .select(col("sid"), col("h")).distinct()
    val eSh = shingleRows(evalSet, idCol, textCol, n)
      .withColumn("h", shingleHash(col("shingle"), n))
      .select(col("sid").as("eid"), col("h")).distinct()
    val cSize = cSh.groupBy("sid").agg(count(lit(1)).as("ca"))
    val eSize = eSh.groupBy("eid").agg(count(lit(1)).as("cb"))
    // Intersection sizes over DISTINCT shingle hashes (two distinct shingles
    // colliding on h count once — mirrored exactly by the oracle's
    // DISTINCT (sid, hv) projection).
    val inter = cSh.join(broadcast(cand), Seq("sid"))
      .join(broadcast(eSh), Seq("eid", "h"))
      .groupBy("sid", "eid").agg(count(lit(1)).as("ci"))
    // The candidate side stays the broadcast build side so the corpus-sized
    // per-doc size table STREAMS through the join (no corpus shuffle).
    broadcast(cand.join(inter, Seq("sid", "eid"), "left")
        .withColumn("ci", coalesce(col("ci"), lit(0L))))
      .join(cSize, Seq("sid"))
      .join(broadcast(eSize), Seq("eid"))
      .withColumn("j", round(col("ci").cast("double") /
        (col("ca") + col("cb") - col("ci")).cast("double"), 6))
      .groupBy(col("sid").as(idCol))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("j") >= tau, 1L).otherwise(0L)).as("n_contaminated"),
        max(col("j")).as("max_jaccard"))
  }

  /** Cross-document boilerplate spans (the C4/RefinedWeb span-dedup family):
    * a word n-gram occurring in at least `minDf` DISTINCT documents is
    * boilerplate (headers, footers, license blurbs, templated text); each
    * document reports how many of its span positions are boilerplate and the
    * boilerplate fraction — the downstream filter/cleanup signal.
    *
    * Shape for 100 TB: one explode → two-stage hash aggregation with
    * map-side partial combine (the distinct (doc, span) projection), then a
    * span-keyed join back. A hot span (the whole point of the operator) has
    * high df but contributes ONE row per doc to the df count — the pair
    * explosion of a similarity join never happens. At corpus scale the span
    * strings would be xxhash64'd before the shuffle (collision odds ~2^-64
    * per pair); kept as raw strings here so the DuckDB oracle can recompute
    * the exact same grouping. */
  def boilerplateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8, minDf: Int = 2): DataFrame = {
    val words = split(trim(col(textCol)), "\\s+")
    val nw = size(words)
    val nSpans = when(nw >= n, (nw - (n - 1)).cast("bigint")).otherwise(0L)
    val idxs = when(nw >= n, sequence(lit(1), nw - (n - 1)))
      .otherwise(array().cast("array<int>"))
    // No scan-parallelism floor here (measured): word 8-gram spans
    // expand far less than char shingles, and `spans` feeds two plan
    // branches — the added exchange cost more than the serial explode.
    val spans = docs.select(col(idCol).as("sid"),
      explode(transform(idxs, i => concat_ws(" ", slice(words, i, lit(n)))))
        .as("span"))
    val boiler = spans.select("sid", "span").distinct()
      .groupBy("span").agg(count(lit(1)).as("span_df"))
      .where(col("span_df") >= minDf)
    val perDoc = spans.join(boiler, Seq("span"))
      .groupBy(col("sid")).agg(count(lit(1)).as("n_boiler"))
    docs.select(col(idCol), nSpans.as("n_spans"))
      .join(perDoc.withColumnRenamed("sid", idCol), Seq(idCol), "left")
      .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
      .withColumn("boiler_frac",
        when(col("n_spans") === 0, 0.0).otherwise(
          round(col("n_boiler").cast("double") / col("n_spans").cast("double"),
            4)))
  }

  /** MAXIMAL duplicated-substring spans per document — the interval-merge
    * step of exact-substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): [[boilerplateSpans]] counts
    * duplicated word-n-gram POSITIONS; this operator merges the overlapping
    * windows those positions cover into the maximal intervals an actual
    * dedup pass would cut. A duplicated run of L≥n words appears as L-n+1
    * overlapping windows; the cut list is the merged [start, end] interval,
    * not the window count.
    *
    * Gaps-and-islands with built-ins only: a window (partitionBy doc,
    * orderBy start) running max of `end` over PRECEDING rows marks each
    * island's first window (no overlap with anything before it); a running
    * sum of the marks numbers the islands; one groupBy emits (min start,
    * max end). Windows merge iff they OVERLAP (share ≥1 word position);
    * merely adjacent duplicated runs stay separate intervals.
    *
    * Shape for 100 TB: the df aggregation + join back are exactly
    * boilerplateSpans' (hot spans cost one row per doc — no pair
    * explosion); the two analytic windows and the island groupBy all
    * partition by doc_id, so they share ONE hash exchange; per-doc state is
    * bounded by that doc's own window count. Word positions are exact
    * integers end-to-end, so the DuckDB oracle (same gaps-and-islands in
    * SQL) matches without any float contract. */
  def duplicateSpanIntervals(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8, minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = split(trim(col(textCol)), "\\s+")
    val nw = size(words)
    val idxs = when(nw >= n, sequence(lit(1), nw - (n - 1)))
      .otherwise(array().cast("array<int>"))
    val pos = Par.scanSpread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("sid"),
        explode(transform(idxs, i => struct(i.as("i"),
          concat_ws(" ", slice(words, i, lit(n))).as("span")))).as("ps"))
      .select(col("sid"), col("ps.i").as("i"), col("ps.span").as("span"))
    val dup = pos.select("sid", "span").distinct()
      .groupBy("span").agg(count(lit(1)).as("span_df"))
      .where(col("span_df") >= minDf)
    val hits = pos.join(dup, Seq("span"))
      .select(col("sid"), col("i").cast("long").as("s"),
        (col("i") + (n - 1)).cast("long").as("e"))
    val byDoc = Window.partitionBy("sid").orderBy("s") // s unique per doc
    val prevMax = max(col("e"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val marked = hits.withColumn("brk",
      when(prevMax.isNull || prevMax < col("s"), 1L).otherwise(0L))
    marked
      .withColumn("island", sum(col("brk"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("sid").as(idCol), col("island").as("span_idx"))
      .agg(min(col("s")).as("start_word"), max(col("e")).as("end_word"))
      .withColumn("span_words", col("end_word") - col("start_word") + 1)
  }

  /** Mersenne prime 2^31-1: keeps every intermediate < 2^62 (no overflow
    * under ANSI mode) and is shared by the DuckDB oracle SQL. */
  val HashP = 2147483647L

  /** Deterministic shingle hash, ENGINE-PORTABLE by construction: a fixed-
    * length base-31 polynomial over code points, mod 2^31-1. Expressible as
    * the same arithmetic in DuckDB (`ascii(substr(...))`), so every operator
    * built on it (MinHash/LSH, SimHash) is oracle-checkable — unlike
    * crc32/xxhash64 whose bit mixes exist only inside Spark. Fixed `n` keeps
    * the expression a flat codegen'd sum (no higher-order aggregate). */
  def shingleHash(c: Column, n: Int): Column = {
    val terms = (1 until n + 1).map { i =>
      ascii(substring(c, i, 1)).cast("long") * lit(pow31(n - i))
    }
    pmod(terms.reduce(_ + _), lit(HashP))
  }

  private def pow31(e: Int): Long = {
    var v = 1L; var i = 0
    while (i < e) { v *= 31L; i += 1 }
    v
  }

  /** (a_i, b_i) universal-hash parameters, seeded — shared with the DuckDB
    * oracle SQL builders (SparkEntry.oracleSql). */
  private def hashParams(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((math.abs(rnd.nextLong()) % (HashP - 1) + 1,
      math.abs(rnd.nextLong()) % HashP))
  }

  /** The k MinHash permutation parameters. */
  def minHashParams(k: Int): Seq[(Long, Long)] = hashParams(k, 42)

  /** The 64 per-bit SimHash vote-hash parameters. A large random multiplier
    * per bit is essential: (a·h+b) mod p wraps ~a/2 times over h's range, so
    * its PARITY is well-mixed — whereas any small/linear-in-b combination
    * leaves parities correlated across bits and collapses the fingerprint
    * space (caught by OpsSpec when every doc hashed to the same value). */
  def simHashParams: Seq[(Long, Long)] = hashParams(64, 1337)

  /** MinHash signatures: k universal-hash permutations h_i(x)=(a_i*x+b_i) mod p
    * over distinct shingle hashes, min per permutation. Pure column exprs. */
  def minHashSignature(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val params = minHashParams(k)
    val sh = shingleRows(docs, idCol, textCol, n)
      .withColumn("h", shingleHash(col("shingle"), n))
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(HashP))).as(s"mh_$i")
    }
    sh.groupBy(col("sid")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: band the k-wide signature into `bands` rows-of-
    * `rowsPerBand`, key each band by its concatenated signature values, group
    * by (band, key) — docs sharing any band bucket are candidates. Returns
    * distinct (a, b) with a < b.
    *
    * The band key is the VALUE concatenation, not a hash of it: semantics are
    * identical (equal key ⟺ equal band signature, with zero collisions) and
    * the key stays portable to the DuckDB oracle. At 100 TB swap in
    * xxhash64 over the band columns to shrink the shuffle key to 8 bytes —
    * only the (astronomically rare) hash-collision false-candidate rate
    * changes, not the verified-dup output of the downstream verify step. */
  def lshCandidates(signatures: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val bandCols = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i"))
      struct(lit(b).as("band"), concat_ws("_", cols: _*).as("bh"))
    }
    val banded = signatures.select(col("sid"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("sid"), col("bk.band"), col("bk.bh"))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
        col("l.sid") < col("r.sid"))
      .select(col("l.sid").as("a"), col("r.sid").as("b"))
      .distinct()
  }

  /** SimHash: 64-bit fingerprint — bit b's ±1 vote per shingle is the parity
    * of an independent universal hash (a_b·h + c_b) mod p of the portable
    * shingle hash, summed across shingles; the fingerprint takes each bit's
    * sign. Pure codegen'd aggregations (no UDF), and every step is
    * reproducible in the DuckDB oracle. */
  def simHash(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val params = simHashParams
    val sh = shingleRows(docs, idCol, textCol, n)
      .withColumn("h", shingleHash(col("shingle"), n))
    val bitSums = (0 until 64).map { b =>
      val (a, c) = params(b)
      sum(when(pmod(col("h") * lit(a) + lit(c), lit(HashP)) % 2 === 1, 1)
        .otherwise(-1)).as(s"s_$b")
    }
    val sums = sh.groupBy(col("sid")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { b =>
      when(col(s"s_$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("sid"), fp.as("simhash"))
  }

  /** Star rounds [[connectedComponents]] runs before it gives up. */
  private val MaxCcRounds = 50

  /** Connected components of the near-dup PAIR graph → dedup GROUPS — the
    * step every production dedup pipeline ends with: near-dup similarity is
    * not transitive, so the pair emitters above (Jaccard, MinHash-LSH,
    * SimHash, embedding near-dup) leave overlapping pairs that must be
    * closed into groups before picking one canonical keeper per group.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    * O(log² n) rounds to star edges (member → component-min). Each star
    * step is one per-node min-neighbor aggregation (map-side combinable)
    * plus one equi-join with it.
    *
    * Spark shape: pair RDDs under one `HashPartitioner` sized to the
    * counted pairs (`Par.partitionsFor`). A star step lays its edges out by
    * `u` once, so the min aggregation and the join with it are narrow; the
    * step's output is deduplicated at the same width. A power-law hub (the
    * realistic shape of a near-dup graph: one viral document duplicated
    * millions of times) is one cogroup group in the star join, and its
    * minimum is combined map-side. Each round's edges
    * are persisted and counted, and the previous round's are dropped once
    * the convergence check has read them. The final (id, group, size)
    * table, node-count-sized, leaves the operator's scope as a checkpoint,
    * and the scope frees the rest.
    *
    * Convergence is detected EXACTLY (set equality via `subtract` on the
    * canonically-oriented edge set), not via a hash checksum — a false
    * "converged" would silently emit a wrong grouping.
    *
    * Returns one row per node in any pair (long columns `a`, `b` of `pairs`):
    * (id, group_id = component min id — the canonical keeper, group_size).
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    CacheScope { w =>
      val spark = pairs.sparkSession
      val Seq(ai, bi) = Seq("a", "b").map(pairs.schema.fieldIndex)
      // Canonical orientation (u > v), self-loop-free.
      val canon = w.persist(pairs.rdd.flatMap { r =>
        def id(i: Int) = r.get(i).asInstanceOf[Number].longValue
        val (a, b) = (id(ai), id(bi))
        if (a == b) None else Some((math.max(a, b), math.min(a, b)))
      })
      val part = new HashPartitioner(
        Par.partitionsFor(spark, 2 * SessionRdd.action(spark)(canon.count())))
      val width = part.numPartitions
      // Large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u}).
      def largeStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] = {
        val sym = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
          .partitionBy(part)
        sym.join(sym.reduceByKey(part, math.min(_, _)), part).flatMap {
          case (u, (v, mv)) =>
            if (v > u) Iterator((v, math.min(u, mv))) else Iterator.empty
        }.distinct(width)
      }
      // Small-star on (u > v)-oriented edges: every smaller neighbor AND u
      // itself link to m = min(Γ⁻(u) ∪ {u}) (= min(Γ⁻(u)), all smaller).
      def smallStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] = {
        val byU = e.partitionBy(part)
        val mins = byU.reduceByKey(part, math.min(_, _))
        byU.join(mins, part).values.filter { case (v, m) => v != m }
          .union(mins).distinct(width)
      }
      var e = w.persist(canon.distinct(width))
      var n = e.count()
      w.drop(canon)
      var round = 0
      var done = n == 0L
      while (!done && round < MaxCcRounds) {
        val next = w.persist(smallStar(largeStar(e)))
        val nNext = next.count()
        // Both sides distinct + canonical ⇒ equal counts ∧ empty difference
        // ⇔ identical sets.
        done = nNext == n && next.subtract(e, part).isEmpty()
        // next is materialized and the convergence check above was the last
        // reader of the old round — free its blocks now.
        w.drop(e)
        e = next
        n = nNext
        round += 1
      }
      require(done, s"connectedComponents did not converge in $MaxCcRounds rounds")
      // At the fixpoint every edge is (member, root); roots appear only as v.
      val members = e.flatMap { case (u, v) => Iterator((v, u), (v, v)) }
        .distinct(width)
      val sizes = members.mapValues(_ => 1L).reduceByKey(part, _ + _)
      w.checkpoint(SessionRdd.frame(spark,
        members.join(sizes, part).map { case (g, (id, size)) =>
          InternalRow(id, g, size) },
        SessionRdd.longSchema("id", "group_id", "group_size")))
    }

  /** Embedding-cosine near-duplicate pairs, exact: every (a < b) pair with
    * round(cos, 4) ≥ threshold. O(N²) — the correctness baseline and DuckDB
    * oracle for the LSH-accelerated variant below, exactly as brute-force
    * top-k is for ANN search. */
  def embeddingNearDupExact(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Scan-parallelism floor: the O(N²) cosine loop otherwise runs
    // in ONE task when the scan is a single small file; no-op at scale.
    val spread = Par.scanSpread(emb.select(col(idCol), col(vecCol)))
    val l = spread.select(col(idCol).as("a"), col(vecCol).as("va"))
    val r = emb.select(col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"),
        round(AnnOps.cosine(col("va"), col("vb")), 4).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Embedding-cosine near-dup, the scale path: candidate pairs from a
    * multi-table hyperplane-LSH bucket SELF-join (each side replicates
    * ×tables, never ×N), then exact cosine verification — so every emitted
    * pair is a TRUE near-dup (precision 1 vs the exact variant; recall < 1,
    * measured in OpsSpec). The verify step makes LSH false positives free
    * apart from the wasted cosine, and the bucket join bounds the pair count
    * at Σ_buckets n_b² instead of N². */
  def embeddingNearDup(emb: DataFrame, threshold: Double, dim: Int, bits: Int,
      tables: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = AnnOps.hyperplanes(dim, bits * tables)
    val keys = (0 until tables).map { t =>
      AnnOps.lshBucket(col(vecCol), planes.slice(t * bits, (t + 1) * bits)) +
        lit(t.toLong << bits)
    }
    // Scan-parallelism floor: ×tables bucket hashing + the bucket
    // self-join's cosines ran single-task on a one-file scan; no-op at scale.
    val keyed = Par.scanSpread(emb.select(col(idCol), col(vecCol)))
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        explode(array(keys: _*)).as("bucket"))
    // Score inside the bucket join (the native cosine is codegen-cheap),
    // THEN dedup: the multi-table duplicate shuffle moves 24-byte
    // (a, b, cos) rows, not two embedding vectors per candidate pair.
    keyed.as("l").join(keyed.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        round(AnnOps.cosine(col("l.v"), col("r.v")), 4).as("cos"))
      .where(col("cos") >= threshold)
      .distinct() // a pair can collide in several tables; cos is identical
  }

  /** Streaming exact dedup — the continuous-ingest sibling of `exact`/
    * `Linker.dedupCorpus`, Spark-first: `dropDuplicates` on a streaming
    * Dataset is the built-in stateful dedup (per-key state in the state
    * store, sharded by key across executors, RocksDB-backed at scale);
    * every later arrival of an already-seen text is dropped.
    *
    * Semantics: FIRST-ARRIVAL-WINS at micro-batch granularity (an unbounded
    * stream cannot emit min-id without retraction; within one micro-batch
    * the surviving duplicate is arrival-order-dependent). Replaying a
    * corpus in id order reproduces the batch min-id result exactly —
    * pinned by StreamingSpec against `Linker.dedupCorpus`.
    *
    * State is keyed on the FULL text for exactness: a 64-bit hash key
    * collides with near-certainty at the 10^10-doc design point (birthday
    * bound), silently dropping distinct documents. The state grows with
    * the distinct texts seen. */
  def exactStream(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.dropDuplicates(textCol)

  /** Streaming embedding near-dup against a STATIC reference corpus — the
    * continuous-ingest "is this arriving item a near-duplicate of anything
    * we already hold?" check, as a stream-static bucket join (stateless: no
    * stream-stream state, the Spark-first shape). Each arriving vector
    * computes its multi-table LSH bucket keys in codegen
    * (`HyperplaneBits`), equi-joins the identically-keyed static corpus,
    * and verifies the exact cosine — so precision is 1 relative to the
    * exact pairing and recall is the multi-table LSH recall (same
    * amplification math as `embeddingNearDup`; an IDENTICAL duplicate
    * always lands in the same buckets, so exact-dup recall is 1). At scale
    * the static side is a pre-bucketed table partitioned by `bucket`, so
    * the join co-locates without shuffling the stream.
    *
    * A pair can collide in several tables; those duplicates arise only
    * WITHIN one micro-batch (a stream row is processed once), so
    * `dropDuplicatesWithinWatermark` removes them with state bounded by the
    * lateness horizon. */
  def embeddingNearDupStream(stream: DataFrame, corpus: DataFrame,
      threshold: Double, dim: Int, bits: Int, tables: Int,
      tsCol: String = "ts", lateness: String = "10 minutes",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = AnnOps.hyperplanes(dim, bits * tables)
    def keys(vc: Column): Seq[Column] = (0 until tables).map { t =>
      AnnOps.lshBucket(vc, planes.slice(t * bits, (t + 1) * bits)) +
        lit(t.toLong << bits)
    }
    val s = stream.select(col(idCol).as("s_id"), col(tsCol).as("s_ts"),
        col(vecCol).as("s_v"), explode(array(keys(col(vecCol)): _*)).as("bucket"))
      .withWatermark("s_ts", lateness)
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_v"),
      explode(array(keys(col(vecCol)): _*)).as("bucket"))
    s.join(c, "bucket")
      .select(col("s_id"), col("s_ts"), col("c_id"),
        round(AnnOps.cosine(col("s_v"), col("c_v")), 4).as("cos"))
      .where(col("cos") >= threshold)
      .dropDuplicatesWithinWatermark("s_id", "c_id")
  }
}
