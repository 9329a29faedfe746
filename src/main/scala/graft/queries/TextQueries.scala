package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, TextOps}
import QuerySupport._

/** Text analysis over the documents table (plus q32's customer-built
  * contact strings): counts, quality and repetition signals, language id,
  * fingerprints, PII scrub, sampling, sharding, an LM score, sketches and
  * BM25 retrieval. */
object TextQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec.of("q48_bm25_topk", Oracle(q48OracleSql)) { (s, dir, _) =>
      // BM25 retrieval: query docs (doc_id % 50 == 3) retrieve their top-5
      // corpus docs through the inverted-index postings join. The df-cap
      // skew guard is corpus-PROPORTIONAL (drop tokens in >90% of docs —
      // an absolute cap would be scale-dependent; the synthetic vocabulary
      // is template-heavy, so a tight cap empties the query set). Exact-
      // integer leaves + the round(…,6) ln contract — fully oracled.
      // The proportional df-cap rides IN-PLAN (broadcast 1-row table count)
      // instead of an eager full-table docs.count() at plan-build time —
      // one fewer full scan per invocation; the cap value is the identical
      // ceil(0.9·N) double product.
      val docs = t(s, dir, "documents")
      TextOps.bm25TopK(docs, col("doc_id") % 50 === 3, maxDfFrac = Some(0.9))
        .orderBy("qid", "rank")
    },
    QuerySpec.of("q31_repetition", Oracle(
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
                    FROM documents),
       idx AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
               FROM w WHERE len(ws) >= 2),
       bg AS (SELECT doc_id,
                ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1] AS bigram
              FROM idx),
       st AS (SELECT doc_id, count(*) AS n_bigrams,
                count(DISTINCT bigram) AS n_distinct
              FROM bg GROUP BY doc_id)
       SELECT w.doc_id,
         coalesce(st.n_bigrams, 0) AS n_bigrams,
         coalesce(st.n_distinct, 0) AS n_distinct,
         coalesce(round(1.0 - CAST(st.n_distinct AS DOUBLE)/st.n_bigrams, 4),
           0.0) AS dup_bigram_frac
       FROM w LEFT JOIN st USING (doc_id) ORDER BY doc_id""")) { (s, dir, _) =>
      // Gopher-style repetition quality signal: duplicate word-bigram
      // fraction per document (boilerplate/degenerate-generation detector).
      TextOps.repetitionSignals(t(s, dir, "documents"))
        .select("doc_id", "n_bigrams", "n_distinct", "dup_bigram_frac")
        .orderBy("doc_id")
    },
    QuerySpec.of("q32_pii_redact", Oracle(q32OracleSql)) { (s, dir, _) =>
      // PII scrub over deterministic contact strings built from the customer
      // table (same construction inlined in the oracle SQL, so email/phone/ip
      // hits are non-trivial and every count + redacted byte is recomputed).
      val c = t(s, dir, "customer")
      val text = concat(
        lit("segment "), col("c_mktsegment"),
        lit(" contact customer."),
        lpad(col("c_custkey").cast("string"), 9, "0"),
        lit("@mail.example or +"),
        lpad((col("c_nationkey") % 100).cast("string"), 2, "0"),
        lit("-"), lpad((col("c_custkey") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("c_custkey") % 256).cast("string"),
        lit("."), (col("c_nationkey") % 256).cast("string"), lit(".1"))
      TextOps.piiSignals(
          c.select(col("c_custkey").as("cust_id"), text.as("text")))
        .select("cust_id", "n_emails", "n_phones", "n_ips", "redacted")
        .orderBy("cust_id")
    },
    QuerySpec.of("q34_epoch_shards", Oracle(q34OracleSql)) { (s, dir, _) =>
      // Training-data ordering: seed-keyed deterministic shuffle + ~1000-token
      // shards cut along the exact distributed prefix sum (two-pass scan, no
      // single-partition window). Engine-portable hash → fully oracled.
      TextOps.epochShards(t(s, dir, "documents"), seed = 7, shardTokens = 1000)
        .select("doc_id", "shuffle_key", "n_tokens_est", "token_offset",
          "shard_id", "shard_pos")
        .orderBy("doc_id")
    },
    QuerySpec.of("q37_bigram_lm", Oracle(
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
                    FROM documents),
       idx AS (SELECT doc_id, ws,
                 CAST(unnest(generate_series(1, len(ws)-1)) AS INT) AS i
               FROM w WHERE len(ws) >= 2),
       bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM idx),
       c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
       c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
             FROM (SELECT unnest(ws) AS tok FROM w)),
       sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
                avg(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * (SELECT v FROM v))))
                  AS lp
              FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
              GROUP BY bg.doc_id)
       SELECT w.doc_id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         coalesce(round(sc.lp, 6), 0.0) AS avg_logprob
       FROM w LEFT JOIN sc USING (doc_id) ORDER BY doc_id""")) { (s, dir, _) =>
      // Perplexity-style quality scoring under a corpus-trained add-k bigram
      // LM — the CCNet/Gopher quality-filter shape, self-contained (the
      // corpus is its own training set). Mean-ln rounded to 6 decimals (the
      // cross-engine quantization contract).
      TextOps.bigramLmScores(t(s, dir, "documents"))
        .select("doc_id", "n_bigrams", "avg_logprob")
        .orderBy("doc_id")
    },
    QuerySpec.of("q29_stratified_sample", Oracle(q29OracleSql)) { (s, dir, _) =>
      // Deterministic per-language rebalancing (cap the head, keep the tail)
      // via hash-threshold keep decisions — stable across engines, retries,
      // and partitionings; thresholds are shared Long literals with the SQL.
      TextOps.stratifiedSample(t(s, dir, "documents"), "lang",
          rates = Q29Rates, defaultRate = Q29DefaultRate)
        .select("doc_id", "lang", "sample_key", "sample_thr").orderBy("doc_id")
    },
    QuerySpec.of("q44_heavy_hitters", Oracle(q44OracleSql)) { (s, dir, _) =>
      // Count-min-sketch heavy hitters: fixed-memory vocabulary statistics
      // (the sketch a 100 TB corpus uses where an exact token table is
      // corpus-sized), exact counts alongside as the accuracy witness.
      // Exact integer arithmetic end-to-end — fully oracled.
      TextOps.heavyHitters(t(s, dir, "documents"), topK = Q44TopK)
        .orderBy(col("exact_cnt").desc, col("token").asc)
    },
    QuerySpec.of("q45_hll_distinct", Oracle(q45OracleSql)) { (s, dir, _) =>
      // HyperLogLog per-language vocabulary cardinality: the bounded-memory
      // distinct-count sketch (256 max-registers per group, map-side
      // mergeable) with the exact distinct count as accuracy witness.
      // md5-string register contract — fully oracled.
      TextOps.hllDistinct(t(s, dir, "documents")).orderBy("lang")
    },
    QuerySpec.of("q11_token_counts", Oracle(
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
         CAST(floor((length(regexp_replace(text, '\s+', '', 'g')) + 3) / 4) AS BIGINT)
           AS n_tokens_est
         FROM documents ORDER BY doc_id""")) { (s, dir, _) =>
      TextOps.tokenCounts(t(s, dir, "documents"))
        .select("doc_id", "n_words", "n_tokens_est").orderBy("doc_id")
    },
    QuerySpec.of("q12_quality", Oracle(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_len,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
         CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
         CAST((length(text) - length(replace(text, ' the ', '')))/5
            + (length(text) - length(replace(text, ' and ', '')))/5
            + (length(text) - length(replace(text, ' of ', '')))/4
            + (length(text) - length(replace(text, ' to ', '')))/4
            + (length(text) - length(replace(text, ' a ', '')))/3 AS BIGINT) AS stop_hits,
         round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
           greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0), 4)
           AS mean_word_len
         FROM documents ORDER BY doc_id""")) { (s, dir, _) =>
      TextOps.qualitySignals(t(s, dir, "documents"))
        .select("doc_id", "n_len", "n_words", "n_punct", "n_digit",
          "stop_hits", "mean_word_len")
        .orderBy("doc_id")
    },
    QuerySpec.of("q13_fingerprint", Oracle(
      "SELECT doc_id, md5(text) AS md5 FROM documents ORDER BY doc_id")) { (s, dir, _) =>
      TextOps.fingerprints(t(s, dir, "documents"))
        .select("doc_id", "md5").orderBy("doc_id")
    },
    QuerySpec.of("q14_langid", Oracle(q14Sql)) { (s, dir, _) =>
      TextOps.langIdGuess(t(s, dir, "documents"))
        .select("doc_id", "en_hits", "de_hits", "es_hits", "fr_hits", "lang_guess")
        .orderBy("doc_id")
    }
  )




  /** q14: the stop-word hit counts and the argmax guess (ties to the
    * earlier language), spelled out term by term from
    * `TextOps.LangStopWords`. */
  private def q14Sql: String = {
    val langs = TextOps.LangStopWords
    def hits(words: Seq[String], indent: Int): String = words.map { w =>
      s"(length(text) - length(replace(text, ' $w ', '')))/${w.length + 2}"
    }.mkString("\n" + " " * indent + "+ ")
    val counts = langs.map { case (l, ws) =>
      s"\n         CAST(${hits(ws, 12)} AS BIGINT) AS ${l}_hits,"
    }.mkString
    val guesses = langs.indices.init.map { i =>
      langs.drop(i + 1).map { case (_, other) =>
        s"${hits(langs(i)._2, 14)} >=\n                ${hits(other, 14)}"
      }.mkString("\n           WHEN ", "\n            AND ",
        s"\n           THEN '${langs(i)._1}'")
    }.mkString
    s"""SELECT doc_id,$counts
         CASE$guesses
           ELSE '${langs.last._1}' END AS lang_guess
         FROM documents ORDER BY doc_id"""
  }

  /** q44: the count-min sketch replayed in SQL — same whitespace
    * tokenization as q11/q31, same md5-prefix bucket keys, the depth×256
    * counter table, and min-over-rows estimates for the exact top-K.
    * Exact integers end-to-end. */
  private def q44OracleSql: String = {
    val depth = 4
    val rowsVals = (0 until depth).map(r => s"($r)").mkString(",")
    s"""WITH tok AS (
         SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
         FROM documents WHERE length(trim(text)) > 0),
       tk AS (SELECT t FROM tok WHERE t <> ''),
       cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS exact_cnt
               FROM tk GROUP BY t),
       top AS (SELECT t, exact_cnt FROM cnt
               ORDER BY exact_cnt DESC, t ASC LIMIT $Q44TopK),
       rws AS (SELECT r FROM (VALUES $rowsVals) v(r)),
       ctr AS (SELECT rws.r AS r,
                 substr(md5(tk.t || '#' || CAST(rws.r AS VARCHAR)), 1, 2) AS b,
                 CAST(count(*) AS BIGINT) AS c
               FROM tk CROSS JOIN rws GROUP BY rws.r, b),
       est AS (SELECT top.t, top.exact_cnt, min(ctr.c) AS cms_est
               FROM top CROSS JOIN rws
               JOIN ctr ON ctr.r = rws.r
                 AND ctr.b = substr(
                   md5(top.t || '#' || CAST(rws.r AS VARCHAR)), 1, 2)
               GROUP BY top.t, top.exact_cnt)
       SELECT t AS token, exact_cnt, cms_est FROM est
       ORDER BY exact_cnt DESC, token ASC"""
  }

  /** q45: the HyperLogLog sketch replayed in SQL. Register index/rank come
    * from the same md5-string arithmetic (leading-'0' strip + nibble CASE),
    * 2^-M_j is the exact `1/(1<<M_j)` BIGINT shift, the harmonic sum is
    * exact in IEEE double (see [[graft.ops.TextOps.hllDistinct]]), and
    * α_m·m² is the SAME shortest-round-trip literal — so Spark and DuckDB
    * agree bit-for-bit up to the round(…,4) ln contract. NOTE DuckDB `log`
    * is log10; natural log is `ln`. */
  private def q45OracleSql: String = {
    val aM2 = graft.ops.TextOps.HllAlphaM2
    s"""WITH tok AS (
         SELECT lang AS g, unnest(string_split_regex(trim(text), '\\s+')) AS t
         FROM documents WHERE length(trim(text)) > 0),
       tk AS (SELECT g, t FROM tok WHERE t <> ''),
       hx AS (SELECT g, t, md5(t) AS h FROM tk),
       rho AS (SELECT g, substr(h, 1, 2) AS b,
           CASE WHEN length(ltrim(substr(h, 3, 8), '0')) = 0 THEN 33
                ELSE (8 - length(ltrim(substr(h, 3, 8), '0'))) * 4 +
                  (CASE substr(ltrim(substr(h, 3, 8), '0'), 1, 1)
                     WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                     WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                     WHEN '7' THEN 1 ELSE 0 END) + 1 END AS r
         FROM hx),
       regs AS (SELECT g, b, max(r) AS m_j FROM rho GROUP BY g, b),
       sk AS (SELECT g,
           sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << m_j)) AS s_present,
           count(*) AS n_present
         FROM regs GROUP BY g),
       ex AS (SELECT g, CAST(count(DISTINCT t) AS BIGINT) AS n_exact
              FROM tk GROUP BY g),
       est AS (SELECT g,
           CAST($aM2 AS DOUBLE) / (s_present + (256 - n_present)) AS e_raw,
           256 - n_present AS v
         FROM sk)
       SELECT ex.g AS lang, ex.n_exact,
         round(CASE WHEN est.e_raw <= 640.0 AND est.v > 0
             THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / est.v)
             ELSE est.e_raw END, 4) AS hll_est,
         CAST(est.v AS BIGINT) AS n_zero_regs
       FROM ex JOIN est ON ex.g = est.g
       ORDER BY lang"""
  }

  /** q48: BM25 replayed in SQL — tokenization (zipped parallel unnest for
    * positions), tf/df/dl/N/Σdl as exact integers, the df-cap, the
    * first-occurrence query-term cut, the Robertson idf, and the top-k
    * window with the same (rounded score desc, did asc) tie contract.
    * Literal doubles (1.2 / 2.2 / 0.75 / 0.25) parse to the same IEEE
    * values the Scala side embeds. */
  private def q48OracleSql: String =
    """WITH lst AS (SELECT doc_id AS did,
           string_split_regex(trim(text), '\s+') AS l FROM documents),
       tok AS (SELECT did, unnest(l) AS t,
           unnest(generate_series(1, len(l))) AS pos FROM lst),
       tk AS (SELECT did, t, pos FROM tok WHERE t <> ''),
       tf AS (SELECT did, t, CAST(count(*) AS BIGINT) AS tf,
              min(pos) AS fpos FROM tk GROUP BY did, t),
       dl AS (SELECT did, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY did),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       dfc AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf
               GROUP BY t HAVING count(*) <=
                 CAST(ceil(0.9 * (SELECT count(*) FROM documents)) AS BIGINT)),
       q AS (SELECT tf.did AS qid, tf.t,
             row_number() OVER (PARTITION BY tf.did
               ORDER BY tf.fpos, tf.t) AS qrank
           FROM tf JOIN dfc ON dfc.t = tf.t WHERE tf.did % 50 = 3),
       qt AS (SELECT qid, t FROM q WHERE qrank <= 8),
       per AS (SELECT qt.qid, p.did,
             ln((CAST(st.n AS DOUBLE) - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / st.avgdl)) AS s
           FROM qt
           JOIN dfc ON dfc.t = qt.t
           JOIN (SELECT tf.did, tf.t, tf.tf, dl.dl FROM tf
                 JOIN dl ON dl.did = tf.did) p ON p.t = qt.t
           CROSS JOIN st
           WHERE p.did <> qt.qid),
       sc AS (SELECT qid, did, round(sum(s), 6) AS bm25
              FROM per GROUP BY qid, did),
       rk AS (SELECT qid, did, bm25,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY bm25 DESC, did ASC) AS BIGINT) AS rank
           FROM sc)
       SELECT qid, did, bm25, rank FROM rk WHERE rank <= 5
       ORDER BY qid, rank"""

  /** q32: the PII scrub recomputed in SQL — the SAME deterministic contact
    * text built from customer columns, then RE2 equivalents of
    * [[graft.ops.TextOps.EmailRe]]/PhoneRe/Ipv4Re for counts ('g'-flagged
    * replaces for the redaction). */
  private def q32OracleSql: String =
    """WITH src AS (SELECT c_custkey AS cust_id,
         'segment ' || c_mktsegment || ' contact customer.' ||
         lpad(CAST(c_custkey AS VARCHAR), 9, '0') || '@mail.example or +' ||
         lpad(CAST(c_nationkey % 100 AS VARCHAR), 2, '0') || '-' ||
         lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         ' from 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
         CAST(c_nationkey % 256 AS VARCHAR) || '.1' AS text
       FROM customer)
     SELECT cust_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text,
         '\+\d{1,3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text,
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\+\d{1,3}-\d{3}-\d{4}', '<PHONE>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
     FROM src ORDER BY cust_id"""

  /** q34: the epoch shuffle + token sharding recomputed in SQL — same
    * affine hash literals, same token estimate, the prefix sum as a plain
    * window (DuckDB's engine can afford the global window at oracle scale;
    * the Spark side uses the distributed two-pass scan). */

  private def q34OracleSql: String = {
    val p = graft.ops.DedupOps.HashP
    val a = graft.ops.TextOps.SampleA
    val b = graft.ops.TextOps.SampleB + 7
    s"""WITH t AS (SELECT doc_id,
         ((doc_id % $p) * $a + $b) % $p AS shuffle_key,
         CAST(floor((length(regexp_replace(text, '\\s+', '', 'g')) + 3) / 4)
           AS BIGINT) AS n_tokens_est
       FROM documents),
     c AS (SELECT *,
         CAST(coalesce(sum(n_tokens_est) OVER (ORDER BY shuffle_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS token_offset
       FROM t)
     SELECT doc_id, shuffle_key, n_tokens_est, token_offset,
       token_offset // 1000 AS shard_id,
       CAST(row_number() OVER (PARTITION BY token_offset // 1000
         ORDER BY shuffle_key, doc_id) AS BIGINT) AS shard_pos
     FROM c ORDER BY doc_id"""
  }

  /** q29 strata: cap the over-represented head language, keep the tail. */
  private val Q29Rates = Map("en" -> 0.3, "zh" -> 0.8)
  private val Q29DefaultRate = 0.6

  /** q29: the identical affine hash + the identical precomputed Long
    * thresholds ([[graft.ops.TextOps.sampleThreshold]]) — the rate→threshold
    * rounding happens once, in Scala, and both engines compare integers. */
  private def q29OracleSql: String = {
    val p = DedupOps.HashP
    val hkey = s"((doc_id % $p) * ${TextOps.SampleA} + ${TextOps.SampleB}) % $p"
    val arms = Q29Rates.toSeq.sortBy(_._1).map { case (lang, r) =>
      s"WHEN lang = '$lang' THEN ${TextOps.sampleThreshold(r)}"
    }.mkString(" ")
    val thr = s"CAST(CASE $arms ELSE ${TextOps.sampleThreshold(Q29DefaultRate)} END AS BIGINT)"
    s"""SELECT doc_id, lang, $hkey AS sample_key, $thr AS sample_thr
     FROM documents WHERE $hkey < $thr ORDER BY doc_id"""
  }

  // q44 heavy-hitters report size (CMS depth fixed at 4 in TextOps).
  private val Q44TopK = 50
}
