package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.kg.KgPipeline
import graft.link.Linker
import graft.ops.DedupOps
import QuerySupport._

/** The KG's entity facets: mentions and their structural check, discovered
  * towns and the closed canonicalization loop, the region adjacency, and
  * the derived analytics over the links (co-mention, PMI, negatives,
  * metadata triples, keyphrases, timeline, tool edges). */
object KgFacetQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec.of("kg_mentions", RowsOnly(
      reason = "trie deep-most backtracking search + 5-rule visitor " +
        "arbitration over the 47k-region dictionary is not SQL-expressible",
      gates = "InterpretGoldenSpec/KgPipelineSpec differential goldens; " +
        "DriftPinSpec sf0.001 content hash; kg_mentions_check PARTIAL " +
        "ORACLE (DuckDB-verified structural invariants: source-turn " +
        "existence, road-substring/residual-length derivability, division " +
        "edge consistency — violation counts pinned to zero by " +
        "MentionsCheckSpec)"),
        Some("fd7a50e5c9b3f15de55487c5fae83f86")) { (s, dir, _) =>
      import s.implicits._
      val (_, turns) = kgInputs(s, dir)
      KgPipeline.detectMentions(s, turns, bdict(s))
        .map(m => (m.convId, m.turnIdx, m.start, m.addr.pid, m.addr.cid,
          m.addr.did, m.addr.townId, m.addr.villageId, m.addr.road,
          m.addr.roadNum, m.addr.buildingNum, m.addr.text))
        .toDF("conv_id", "turn_idx", "start", "pid", "cid", "did", "town_id",
          "village_id", "road", "road_num", "building_num", "residual")
        .orderBy("conv_id", "turn_idx")
    },
    QuerySpec.of("kg_towns", Oracle(
      s"""SELECT district_id, name, new_region_id, region_type FROM (
           SELECT district_id, name,
             district_id*10000 + row_number() OVER
               (PARTITION BY district_id ORDER BY name) - 1 AS new_region_id,
             CASE WHEN substr(name, length(name), 1) IN ('镇','乡') THEN 400
                  WHEN substr(name, length(name), 1) = '村' THEN 410
                  ELSE 0 END AS region_type
           FROM ${sp("town_candidates")})
         WHERE region_type > 0 ORDER BY district_id, name""")) { (s, dir, _) =>
      val (corpus, _) = kgInputs(s, dir)
      Linker.discoverTowns(s, corpus, bdict(s))
        .orderBy("district_id", "name")
    },
    QuerySpec.of("kg_towns_loop", RowsOnly(
      reason = "second-pass trie interpretation with the grown " +
        "dictionary (closed canonicalization loop) — rows-only for the " +
        "same reason as kg_mentions: deep-most backtracking trie search + " +
        "visitor arbitration is not SQL-expressible",
      gates = "DictLoopSpec conformance (discovery→merge→resolution, " +
        "reference id scheme, Town term + boost in doc vectors); " +
        "DriftPinSpec sf0.001 content hash; kg_towns_loop_check PARTIAL " +
        "ORACLE (DuckDB re-derives the discovered-region id table and " +
        "checks every loop row's id/district/type consistency plus " +
        "name-occurs-in-document — violation counts pinned to zero by " +
        "TownsLoopCheckSpec)"),
        Some("a7d9eab027739de4a446e24e298836bf")) { (s, dir, name) =>
      townsLoopBundle(s, dir, name)._1
    },
    QuerySpec.of("kg_towns_loop_check", Oracle(townsLoopCheckSql)) { (s, dir, name) =>
      // Partial property-oracle for the rows-only kg_towns_loop (mirror of
      // kg_mentions_check): DuckDB re-derives the discovered region-id table
      // from the town_candidates stage and checks every second-pass row
      // against it and the raw corpus text — id ↔ (district, name), region
      // type per division slot, surface form occurs in the document.
      // TownsLoopCheckSpec pins every count at zero.
      val (loop, nt) = townsLoopBundle(s, dir, name)
      val (corpus, _) = kgInputs(s, dir)
      def side(p: String) = nt.select(
        col("new_region_id").as(s"${p}_rid"),
        col("name").as(s"${p}_rname"),
        col("district_id").as(s"${p}_rdid"),
        col("region_type").as(s"${p}_rtype"))
      val j = loop
        .join(corpus.toDF("doc_id", "docText"), Seq("doc_id"), "left")
        .join(side("t"), col("town_id") === col("t_rid"), "left")
        .join(side("v"), col("village_id") === col("v_rid"), "left")
      val townT = lit(graft.model.RegionTypes.Town)
      val villT = lit(graft.model.RegionTypes.Village)
      j.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("n_dup_doc"),
        viol(col("docText").isNull, "n_orphan_doc"),
        viol(col("town_name").isNull && col("village_name").isNull,
          "n_no_discovered"),
        viol(col("town_name").isNotNull && col("t_rname").isNull,
          "n_town_unmatched"),
        viol(col("t_rname").isNotNull && col("t_rname") =!= col("town_name"),
          "n_town_name_mismatch"),
        viol(col("town_name").isNotNull && col("t_rdid").isNotNull &&
          col("t_rdid") =!= col("did"), "n_town_did_mismatch"),
        viol(col("town_name").isNotNull && col("t_rtype").isNotNull &&
          col("t_rtype") =!= townT, "n_town_bad_type"),
        viol(col("town_name").isNotNull && col("docText").isNotNull &&
          !col("docText").contains(col("town_name")), "n_town_not_in_doc"),
        viol(col("village_name").isNotNull && col("v_rname").isNull,
          "n_village_unmatched"),
        viol(col("v_rname").isNotNull && col("v_rname") =!= col("village_name"),
          "n_village_name_mismatch"),
        viol(col("village_name").isNotNull && col("v_rdid").isNotNull &&
          col("v_rdid") =!= col("did"), "n_village_did_mismatch"),
        viol(col("village_name").isNotNull && col("v_rtype").isNotNull &&
          col("v_rtype") =!= villT, "n_village_bad_type"),
        viol(col("village_name").isNotNull && col("docText").isNotNull &&
          !col("docText").contains(col("village_name")),
          "n_village_not_in_doc"))
    },
    QuerySpec.of("kg_adjacency", Oracle(
      s"""SELECT parentId AS src, id AS dst, 'parentOf' AS edgeType
         FROM ${sp("regions")} WHERE parentId > 0 ORDER BY src, dst""")) { (s, _, _) =>
      KgPipeline.regionAdjacency(s, dict).orderBy("src", "dst")
    },
    QuerySpec.of("kg_mentions_check", Oracle(mentionsCheckSql)) { (s, dir, _) =>
      // Partial property-oracle for the rows-only kg_mentions surface:
      // structural invariants DuckDB CAN recompute independently
      // from the stage tables — every mention's source turn exists, the
      // extracted road is a substring of that turn's text, the residual
      // never outgrows the turn, and the division ids form consistent
      // parent edges in the region tree. Exact mention VALUES stay
      // rows-only (trie interpretation is not SQL-expressible), but this
      // aggregate is a hard cross-engine check; MentionsCheckSpec pins
      // every violation count at zero.
      import s.implicits._
      val (_, turns) = kgInputs(s, dir)
      val m = KgPipeline.detectMentions(s, turns, bdict(s))
        .map(md => (s"${md.convId}#${md.turnIdx}",
          md.addr.pid, md.addr.cid, md.addr.did, md.addr.streetId,
          md.addr.townId, md.addr.villageId,
          Option(md.addr.road).getOrElse(""),
          Option(md.addr.text).getOrElse("")))
        .toDF("subj", "pid", "cid", "did", "street_id", "town_id",
          "village_id", "road", "residual")
      val turnsDf = turns.map(t => (s"${t.conv_id}#${t.turn_idx}", t.text))
        .toDF("subj", "text")
      val reg = s.createDataset(dict.regions.all.map(r => (r.id, r.parentId)))
        .toDF("rid", "rparent")
      def parentOf(idCol: String, outCol: String) =
        reg.select(col("rid").as(idCol), col("rparent").as(outCol))
      val j = m.join(turnsDf, Seq("subj"), "left")
        .join(parentOf("cid", "cid_parent"), Seq("cid"), "left")
        .join(parentOf("did", "did_parent"), Seq("did"), "left")
        .join(parentOf("street_id", "street_parent"), Seq("street_id"), "left")
        .join(parentOf("town_id", "town_parent"), Seq("town_id"), "left")
        .join(parentOf("village_id", "village_parent"), Seq("village_id"), "left")
      j.agg(
        count(lit(1)).as("n_mentions"),
        viol(col("text").isNull, "n_orphan_turn"),
        viol(col("road") =!= "" && !col("text").contains(col("road")),
          "n_road_not_in_turn"),
        viol(length(col("residual")) > length(col("text")),
          "n_residual_too_long"),
        // Unknown region ids (the *_parent join found no row) leave the
        // parent column NULL; without an explicit NULL arm the three-valued
        // `=!=` would swallow exactly the fabricated/stale-id corruption
        // this check exists to catch. coalesce(cond, false) pins NULL
        // comparisons to "edge not satisfied" → violation.
        viol(col("cid") > 0 &&
          !(col("cid") === col("pid") ||
            coalesce(col("cid_parent") === col("pid"), lit(false))),
          "n_bad_city_edge"),
        viol(col("did") > 0 &&
          !(col("did") === col("cid") ||
            coalesce(col("did_parent") === col("cid"), lit(false))),
          "n_bad_district_edge"),
        viol(col("street_id") > 0 &&
          (col("street_parent").isNull || col("street_parent") =!= col("did")),
          "n_bad_street_edge"),
        viol(col("town_id") > 0 &&
          (col("town_parent").isNull || col("town_parent") =!= col("did")),
          "n_bad_town_edge"),
        viol(col("village_id") > 0 &&
          !(coalesce(col("village_parent") === col("did"), lit(false)) ||
            coalesce(col("village_parent") === col("town_id"), lit(false))),
          "n_bad_village_edge"))
    },
    QuerySpec.of("kg_comention", Oracle(
      s"""WITH l AS (
           SELECT DISTINCT split_part(m.subj, '#', 1) AS convId, h.docId
           FROM ${sp("hits5")} h JOIN ${sp("mentions")} m
             ON h.queryId = m.queryId
           WHERE h.rank <= 1)
         SELECT a.docId AS src, b.docId AS dst, count(*) AS weight
         FROM l a JOIN l b ON a.convId = b.convId AND a.docId < b.docId
         GROUP BY a.docId, b.docId ORDER BY src, dst""")) { (s, dir, name) =>
      // Materialized entity-adjacency table from actual links: top-1-linked
      // addresses co-mentioned in the same conversation.
      scopedCk(s, dir, 5, name)((r, _) =>
        KgPipeline.coMentionEdges(s, r.mentions, r.hits, topRank = 1))(
        _.orderBy("src", "dst"))
    },
    QuerySpec.of("kg_pmi", Oracle(
      s"""WITH l AS (
           SELECT DISTINCT split_part(m.subj, '#', 1) AS convId, h.docId
           FROM ${sp("hits5")} h JOIN ${sp("mentions")} m
             ON h.queryId = m.queryId
           WHERE h.rank <= 1),
         tot AS (SELECT CAST(count(DISTINCT convId) AS BIGINT) AS n_convs
                 FROM l),
         ent AS (SELECT docId, CAST(count(*) AS BIGINT) AS w_ent
                 FROM l GROUP BY docId),
         p AS (SELECT a.docId AS src, b.docId AS dst,
               CAST(count(*) AS BIGINT) AS w_pair
             FROM l a JOIN l b
               ON a.convId = b.convId AND a.docId < b.docId
             GROUP BY a.docId, b.docId)
         SELECT p.src, p.dst, p.w_pair, es.w_ent AS w_src, ed.w_ent AS w_dst,
           tot.n_convs,
           round(ln(CAST(p.w_pair AS DOUBLE) * tot.n_convs /
             (CAST(es.w_ent AS DOUBLE) * ed.w_ent)), 6) AS pmi
         FROM p
         JOIN ent es ON es.docId = p.src
         JOIN ent ed ON ed.docId = p.dst
         CROSS JOIN tot
         ORDER BY src, dst""")) { (s, dir, name) =>
      // PMI-weighted co-mention edges: how much more two entities co-occur
      // than their popularity predicts (conversation units); exact counts +
      // one ln under the round(…,6) contract — fully oracled.
      scopedCk(s, dir, 5, name)((r, _) =>
        KgPipeline.pmiEdges(s, r.mentions, r.hits, topRank = 1))(
        _.orderBy("src", "dst"))
    },
    QuerySpec.of("kg_negatives", Oracle(kgNegativesOracleSql)) { (s, dir, name) =>
      // Deterministic filtered negative sampling (the TransE-family
      // corruption step): the bridge from the materialized KG to a
      // KG-embedding trainer. Pure hash picks from the dense-indexed
      // entity pool, anti-joined against true links — exact BIGINTs,
      // fully oracled.
      scopedCk(s, dir, 5, name)((r, _) =>
        KgPipeline.negativeSamples(s, r.hits, k = 4))(
        _.orderBy("query_id", "pos_doc_id", "slot", "neg_doc_id"))
    },
    QuerySpec.of("kg_meta_triples", Oracle(
      s"""WITH t AS (SELECT subj, role, tool,
             split_part(subj, '#', 1) AS conv FROM ${sp("turns")})
         SELECT subj, 'byRole' AS pred, role AS obj,
           CAST(0.0 AS DOUBLE) AS score, '' AS partKey FROM t
         UNION ALL
         SELECT subj, 'usedTool' AS pred, tool AS obj,
           CAST(0.0 AS DOUBLE) AS score, '' AS partKey FROM t
         WHERE tool <> ''
         UNION ALL
         SELECT subj, 'inConversation' AS pred, conv AS obj,
           CAST(0.0 AS DOUBLE) AS score, '' AS partKey FROM t
         ORDER BY subj, pred, obj""")) { (s, dir, _) =>
      // Transcript-structure triples (role / tool / conversation membership)
      // — the agent-action facet of the KG; narrow flatMap, fully oracled
      // from the turns stage table.
      val (_, turns) = kgInputs(s, dir)
      KgPipeline.metadataTriples(s, turns).toDF()
        .orderBy("subj", "pred", "obj")
    },
    QuerySpec.of("kg_keyphrases", Oracle(
      s"""WITH tx AS (SELECT split_part(subj, '#', 1) AS conv_id, text
              FROM ${sp("turns")}),
         gi AS (SELECT conv_id, text,
               unnest(generate_series(1, length(text) - 1)) AS i
             FROM tx WHERE length(text) >= 2),
         g AS (SELECT conv_id, substr(text, CAST(i AS INT), 2) AS gram
               FROM gi),
         tf AS (SELECT conv_id, gram, CAST(count(*) AS BIGINT) AS tf
                FROM g GROUP BY conv_id, gram),
         dfg AS (SELECT gram, CAST(count(*) AS BIGINT) AS df
                 FROM tf GROUP BY gram),
         st AS (SELECT CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
                FROM tx),
         j AS (SELECT tf.conv_id, tf.gram, tf.tf, dfg.df,
               round(tf.tf * ln(CAST(st.n_convs AS DOUBLE) / dfg.df), 6)
                 AS tfidf
             FROM tf JOIN dfg USING (gram) CROSS JOIN st
             WHERE dfg.df <= st.n_convs * CAST(0.5 AS DOUBLE)),
         rk AS (SELECT j.*, CAST(row_number() OVER (PARTITION BY conv_id
               ORDER BY tfidf DESC, gram ASC) AS BIGINT) AS rank FROM j)
         SELECT conv_id, gram, tf, df, tfidf, rank FROM rk
         WHERE rank <= 3 ORDER BY conv_id, rank""")) { (s, dir, _) =>
      // Per-conversation TF-IDF keyphrases (char bigrams — the CJK IR
      // unit): the document-tagging facet of the KG. Exact BIGINT leaves,
      // one ln product, no accumulation — fully oracled from the turns
      // stage table.
      val (_, turns) = kgInputs(s, dir)
      KgPipeline.conversationKeyphrases(s, turns)
        .orderBy("conv_id", "rank")
    },
    QuerySpec.of("kg_timeline", Oracle(
      s"""SELECT h.docId AS doc_id,
           min(t.ts_ms) AS first_ms, max(t.ts_ms) AS last_ms,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(count(DISTINCT split_part(m.subj, '#', 1)) AS BIGINT)
             AS n_convs
         FROM ${sp("hits5")} h
         JOIN ${sp("mentions")} m ON h.queryId = m.queryId
         JOIN ${sp("turns")} t ON t.subj = m.subj
         WHERE h.rank <= 1
         GROUP BY h.docId ORDER BY doc_id""")) { (s, dir, name) =>
      // Temporal facets per linked entity: first/last mention epoch-millis,
      // mention count, distinct conversations — exact integers end-to-end,
      // recomputed by DuckDB from the hits/mentions/turns stage tables.
      scopedCk(s, dir, 5, name)((r, turns) =>
        KgPipeline.entityTimeline(s, r.mentions, r.hits, turns))(
        _.orderBy("doc_id"))
    },
    QuerySpec.of("kg_tool_edges", Oracle(
      s"""WITH l AS (
           SELECT DISTINCT split_part(m.subj, '#', 1) AS conv, h.docId
           FROM ${sp("hits5")} h JOIN ${sp("mentions")} m
             ON h.queryId = m.queryId
           WHERE h.rank <= 1),
         tc AS (SELECT DISTINCT split_part(subj, '#', 1) AS conv, tool
                FROM ${sp("turns")} WHERE tool <> '')
         SELECT tc.tool AS tool, l.docId AS doc_id,
           CAST(count(*) AS BIGINT) AS weight
         FROM l JOIN tc ON l.conv = tc.conv
         GROUP BY tc.tool, l.docId ORDER BY tool, doc_id""")) { (s, dir, name) =>
      // Tool→entity adjacency: which tools touch which canonical entities,
      // weighted by conversation count — the transcript-specific KG
      // adjacency product next to kg_comention.
      scopedCk(s, dir, 5, name)((r, turns) =>
        KgPipeline.toolEntityEdges(s, r.mentions, r.hits, turns))(
        _.orderBy("tool", "doc_id"))
    }
  )

  /** One violation counter of the structural checks. */
  private def viol(c: Column, name: String): Column =
    sum(when(c, 1L).otherwise(0L)).as(name)

  private def townsLoopCheckSql: String =
    s"""WITH nt AS (
           SELECT district_id, name, new_region_id, region_type FROM (
             SELECT district_id, name,
               district_id*10000 + row_number() OVER
                 (PARTITION BY district_id ORDER BY name) - 1 AS new_region_id,
               CASE WHEN substr(name, length(name), 1) IN ('镇','乡') THEN 400
                    WHEN substr(name, length(name), 1) = '村' THEN 410
                    ELSE 0 END AS region_type
             FROM ${sp("town_candidates")})
           WHERE region_type > 0),
         j AS (
           SELECT tl.*, c.docText,
             t.name AS t_rname, t.district_id AS t_rdid,
             t.region_type AS t_rtype,
             v.name AS v_rname, v.district_id AS v_rdid,
             v.region_type AS v_rtype
           FROM ${sp("towns_loop")} tl
           LEFT JOIN ${sp("corpus")} c ON c.docId = tl.doc_id
           LEFT JOIN nt t ON t.new_region_id = tl.town_id
           LEFT JOIN nt v ON v.new_region_id = tl.village_id)
         SELECT count(*) AS n_rows,
           count(*) - count(DISTINCT doc_id) AS n_dup_doc,
           CAST(sum(CASE WHEN docText IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan_doc,
           CAST(sum(CASE WHEN town_name IS NULL AND village_name IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_no_discovered,
           CAST(sum(CASE WHEN town_name IS NOT NULL AND t_rname IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_town_unmatched,
           CAST(sum(CASE WHEN t_rname IS NOT NULL AND t_rname <> town_name
             THEN 1 ELSE 0 END) AS BIGINT) AS n_town_name_mismatch,
           CAST(sum(CASE WHEN town_name IS NOT NULL AND t_rdid IS NOT NULL
             AND t_rdid <> did THEN 1 ELSE 0 END) AS BIGINT)
             AS n_town_did_mismatch,
           CAST(sum(CASE WHEN town_name IS NOT NULL AND t_rtype IS NOT NULL
             AND t_rtype <> 400 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_town_bad_type,
           CAST(sum(CASE WHEN town_name IS NOT NULL AND docText IS NOT NULL
             AND NOT contains(docText, town_name) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_town_not_in_doc,
           CAST(sum(CASE WHEN village_name IS NOT NULL AND v_rname IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_village_unmatched,
           CAST(sum(CASE WHEN v_rname IS NOT NULL AND v_rname <> village_name
             THEN 1 ELSE 0 END) AS BIGINT) AS n_village_name_mismatch,
           CAST(sum(CASE WHEN village_name IS NOT NULL AND v_rdid IS NOT NULL
             AND v_rdid <> did THEN 1 ELSE 0 END) AS BIGINT)
             AS n_village_did_mismatch,
           CAST(sum(CASE WHEN village_name IS NOT NULL AND v_rtype IS NOT NULL
             AND v_rtype <> 410 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_village_bad_type,
           CAST(sum(CASE WHEN village_name IS NOT NULL AND docText IS NOT NULL
             AND NOT contains(docText, village_name) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_village_not_in_doc
         FROM j"""

  private def mentionsCheckSql: String =
    s"""WITH j AS (
           SELECT m.*, t.text,
             rc.parentId AS cid_parent, rd.parentId AS did_parent,
             rs.parentId AS street_parent, rt.parentId AS town_parent,
             rv.parentId AS village_parent
           FROM ${sp("mentions")} m
           LEFT JOIN ${sp("turns")} t ON t.subj = m.subj
           LEFT JOIN ${sp("regions")} rc ON rc.id = m.cid
           LEFT JOIN ${sp("regions")} rd ON rd.id = m.did
           LEFT JOIN ${sp("regions")} rs ON rs.id = m.street_id
           LEFT JOIN ${sp("regions")} rt ON rt.id = m.town_id
           LEFT JOIN ${sp("regions")} rv ON rv.id = m.village_id)
         SELECT count(*) AS n_mentions,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan_turn,
           CAST(sum(CASE WHEN road <> '' AND NOT contains(text, road)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_road_not_in_turn,
           CAST(sum(CASE WHEN length(residual) > length(text)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_residual_too_long,
           CAST(sum(CASE WHEN cid > 0 AND NOT (cid = pid
             OR COALESCE(cid_parent = pid, FALSE))
             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_city_edge,
           CAST(sum(CASE WHEN did > 0 AND NOT (did = cid
             OR COALESCE(did_parent = cid, FALSE))
             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_district_edge,
           CAST(sum(CASE WHEN street_id > 0 AND (street_parent IS NULL
             OR street_parent <> did)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_street_edge,
           CAST(sum(CASE WHEN town_id > 0 AND (town_parent IS NULL
             OR town_parent <> did)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_town_edge,
           CAST(sum(CASE WHEN village_id > 0 AND
             NOT (COALESCE(village_parent = did, FALSE)
               OR COALESCE(village_parent = town_id, FALSE))
             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_village_edge
         FROM j"""



  /** kg_negatives: the deterministic corruption replayed in SQL — dense
    * pool index via one window (affordable at oracle scale), the same
    * per-edge seed and (a_i, b_i) universal-hash picks as portable BIGINT
    * arithmetic (pmod spelled out — DuckDB % is sign-preserving), and the
    * filtered-setting NOT EXISTS. */
  private def kgNegativesOracleSql: String = {
    val p = DedupOps.HashP
    val slotRows = DedupOps.minHashParams(4).zipWithIndex.map {
      case ((a, b), i) =>
        s"SELECT CAST($i AS BIGINT) AS slot, CAST($a AS BIGINT) AS pa," +
          s" CAST($b AS BIGINT) AS pb"
    }.mkString(" UNION ALL ")
    s"""WITH pos AS (SELECT DISTINCT h.queryId, h.docId
           FROM ${sp("hits5")} h WHERE h.rank <= 1),
       pool AS (SELECT pool_doc,
             CAST(row_number() OVER (ORDER BY pool_doc) - 1 AS BIGINT)
               AS pool_idx
           FROM (SELECT DISTINCT docId AS pool_doc FROM pos)),
       np AS (SELECT CAST(count(*) AS BIGINT) AS n_pool FROM pool),
       sl AS ($slotRows),
       seeded AS (SELECT queryId, docId,
             ((((queryId % $p) + $p) % $p) * 31
               + (((docId % $p) + $p) % $p)) % $p AS seed
           FROM pos),
       picks AS (SELECT s.queryId, s.docId, sl.slot,
             (s.seed * sl.pa + sl.pb) % $p % np.n_pool AS pool_idx
           FROM seeded s CROSS JOIN sl CROSS JOIN np),
       cand AS (SELECT picks.queryId, picks.docId, picks.slot,
                pool.pool_doc
              FROM picks JOIN pool USING (pool_idx))
       SELECT c.queryId AS query_id, c.docId AS pos_doc_id, c.slot,
         c.pool_doc AS neg_doc_id
       FROM cand c
       WHERE NOT EXISTS (SELECT 1 FROM pos p2
         WHERE p2.queryId = c.queryId AND p2.docId = c.pool_doc)
       ORDER BY query_id, pos_doc_id, slot, neg_doc_id"""
  }
}
