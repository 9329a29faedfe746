package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheScope

import graft.kg.KgPipeline
import graft.link.{LinkIndex, Linker}
import graft.ops.MultimodalOps
import graft.pipeline.PersistStages
import QuerySupport._

/** Core dataflow on the relational tables (aggregates, joins, windows,
  * sessionization, union/distinct), the streaming link, and the multimodal
  * and `.vt` export plumbing. */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Stream == batch on an independent engine: the streaming query's
    // materialized triples must equal the batch recomputation exactly.
    QuerySpec.of("q27_stream_link", Oracle(KgQueries.kgTriplesOracleSql)) { (s, dir, name) =>
      // Streaming entity linking, oracle-checked: the sf turns as
      // a bounded FILE stream (3 parquet files, maxFilesPerTrigger=1 → 3
      // micro-batches) through `TranscriptStream.linkStreamWith` — readStream +
      // checkpointed foreachBatch + an idempotent overwrite-by-batchId
      // parquet sink — then the materialized triples. The DuckDB oracle is
      // the SAME recomputation as kg_triples from the batch stage tables,
      // so CORRECTNESS checks stream == batch on an independent engine
      // (bit-identity already pinned by PipelineExtrasSpec's streaming link
      // test; this makes it part of the oracle-checked surface).
      import s.implicits._
      CacheScope.using(new PersistStages) { stages =>
        val (corpus, turns) = kgInputs(s, dir)
        val b = bdict(s)
        val (docs, idf) = KgPipeline.corpusSide(s, corpus, b, stages)
        // Fresh stream state per invocation (checkpoint offsets would
        // otherwise mark the files done and skip the sink on a re-run).
        val root = stashRoot.resolve(name).toFile
        rm(root)
        val inDir = s"$root/in"; val outDir = s"$root/out"
        turns.repartition(3).write.parquet(inDir)
        val schema = org.apache.spark.sql.Encoders.product[graft.model.Turn].schema
        val streamTurns = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
          .as[graft.model.Turn]
        // The scope stops the query, then frees the static-side index.
        val index = stages.hold(LinkIndex.build(s, docs, idf))(_.unpersist())
        val q = stages.hold(graft.streaming.TranscriptStream.linkStreamWith(
            s, streamTurns, b, index, topN = 5, s"$root/ckpt") {
          (triples, batchId) =>
            // Idempotent sink: a replayed batch overwrites its own partition
            // (the at-least-once → effective exactly-once upgrade the
            // linkStreamWith contract documents).
            triples.toDF().write.mode("overwrite")
              .parquet(s"$outDir/batch_id=$batchId")
            ()
        })(_.stop())
        q.processAllAvailable()
        s.read.parquet(outDir)
          .select("subj", "pred", "obj", "score", "partKey")
          .orderBy("subj", "pred", "obj")
      }
    },
    QuerySpec.of("q1_pricing_summary", Oracle(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_price, round(avg(l_discount),6) AS avg_disc,
         count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")) { (s, dir, _) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    QuerySpec.of("q2_top_orders", Oracle(
      """SELECT o_orderkey, round(o_totalprice,2) AS price FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")) { (s, dir, _) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    },
    QuerySpec.of("q3_segment_join", Oracle(
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""")) { (s, dir, _) =>
      t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    },
    QuerySpec.of("q4_window_rank", Oracle(
      """SELECT o_custkey, o_orderkey, rk FROM (
           SELECT o_custkey, o_orderkey, row_number() OVER
             (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           FROM orders) WHERE rk <= 2 ORDER BY o_custkey, rk""")) { (s, dir, _) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
        .orderBy("o_custkey", "rk")
    },
    QuerySpec.of("q5_supplier_nation", Oracle(
      """SELECT n_name, count(*) AS n_suppliers, round(sum(s_acctbal),2) AS total_bal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""")) { (s, dir, _) =>
      t(s, dir, "supplier").join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum("s_acctbal"), 2).as("total_bal"))
        .orderBy("n_name")
    },
    QuerySpec.of("q6_filtered_revenue", Oracle(
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS cnt
         FROM lineitem
         WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""")) { (s, dir, _) =>
      t(s, dir, "lineitem")
        .where(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("cnt"))
    },
    QuerySpec.of("q17_events_hourly", Oracle(
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
         count(*) AS cnt, round(sum(value),2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""")) { (s, dir, _) =>
      t(s, dir, "events")
        .groupBy(unix_millis(date_trunc("hour", col("ts")).cast("timestamp")).as("hour_ms"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .orderBy("hour_ms", "event_type")
    },
    QuerySpec.of("q18_sessionize", Oracle(
      """WITH g AS (
           SELECT user_id, epoch_ms(ts) AS ms,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events)
         SELECT user_id,
           CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions,
           count(*) AS n_events
         FROM g GROUP BY user_id ORDER BY user_id""")) { (s, dir, _) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
        .withColumn("gap", col("ms") - lag("ms", 1).over(w))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > 1800000L, 1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
    QuerySpec.of("q20_media_features", Oracle(q20Sql)) { (s, dir, _) =>
      // Fully oracled: the stub codec's hash chain is mod-p arithmetic with
      // exactly-representable (dyadic) feature contributions, so DuckDB
      // recomputes the features from the raw payload bytes (media_bytes
      // stage table) via modular-inverse prefix sums.
      import s.implicits._
      MultimodalOps.extractFeatures(s, media(s, dir), MultimodalOps.StubCodec,
          dim = 16, frameEvery = 2)
        // Raw doubles, NO decimal rounding: the values are bit-reproducible
        // (exact dyadic sums + one shared division), while decimal rounding
        // would introduce systematic half-way ties — dyadic rationals have
        // TERMINATING decimal expansions, so a digit landing exactly on 5
        // is common, and JVM floor(x+0.5) vs DuckDB half-away disagree on
        // negatives (hit at sf0.01 row 59). The oracle compare takes floats
        // with tolerance; exact values need no rounding crutch.
        .map(f => (f.media_id, f.modality, f.n_frames_sampled,
          f.feature.map(v => v * v).sum, f.feature(0)))
        .toDF("media_id", "modality", "n_frames", "feat_norm2", "feat0")
        .orderBy("media_id")
    },
    QuerySpec.of("q25_media_resize", Oracle(q25Sql)) { (s, dir, _) =>
      // The `resizeMedia` operator, oracle-checked: the resized metadata —
      // bounding-box fit, aspect preserved, never upscaled, stub-codec
      // length = max(trunc(len·pixelRatio), 1) — is pure arithmetic over
      // the materialized media metadata.
      import s.implicits._
      MultimodalOps.resizeMedia(s, media(s, dir), MultimodalOps.StubCodec,
          maxW = 32, maxH = 32)
        .map(m => (m.media_id, m.modality, m.width, m.height, m.content_len))
        .toDF("media_id", "modality", "width", "height", "content_len")
        .orderBy("media_id")
    },
    // Frame-sampling count: video samples every 2nd 16-byte window of
    // max(len/16, 1) frames → ceil(n/2); image/audio decode as one frame.
    QuerySpec.of("q26_media_frames", Oracle(
      s"""SELECT media_id, modality,
           CASE WHEN modality = 'video'
                THEN CAST((greatest(content_len // 16, 1) + 1) // 2 AS INT)
                ELSE 1 END AS n_frames
         FROM ${sp("media_meta")} ORDER BY media_id""")) { (s, dir, _) =>
      // The integer-derivable half of q20: frame-sampling counts through
      // the REAL `extractFeatures` path; the oracle recomputes n_frames
      // from content_len alone.
      import s.implicits._
      MultimodalOps.extractFeatures(s, media(s, dir), MultimodalOps.StubCodec,
          dim = 16, frameEvery = 2)
        .map(f => (f.media_id, f.modality, f.n_frames_sampled))
        .toDF("media_id", "modality", "n_frames")
        .orderBy("media_id")
    },
    QuerySpec.of("q19_dict_export", Oracle(
      """SELECT DISTINCT val FROM (
           SELECT event_type AS val FROM events
           UNION ALL SELECT lang AS val FROM documents
           UNION ALL SELECT source AS val FROM documents)
         ORDER BY length(val) DESC, val""")) { (s, dir, _) =>
      // Union/distinct/orderBy dictionary export (SURVEY.md §2 E4 analog).
      t(s, dir, "events").select(col("event_type").as("val"))
        .union(t(s, dir, "documents").select(col("lang").as("val")))
        .union(t(s, dir, "documents").select(col("source").as("val")))
        .distinct()
        .orderBy(length(col("val")).desc, col("val"))
    },
    // The `.vt` dump written by q24 itself, parsed byte-for-byte by DuckDB:
    // partKey from the directory name, docId before '$', term types = first
    // char of each '|'-separated term, texts = the rest. Any drift in the
    // serializer, the directory layout, or the reader shows up here.
    QuerySpec.of("q24_vt_export", Oracle(
      s"""WITH f AS (
           SELECT filename, content
           FROM read_text('$vtDumpDir/vtdump/partKey=*/*.txt')),
         l AS (
           SELECT regexp_extract(filename, 'partKey=([^/]+)', 1) AS partKey,
             unnest(string_split(content, chr(10))) AS line
           FROM f),
         p AS (
           SELECT partKey, string_split(line, '$$') AS kv
           FROM l WHERE length(trim(line)) > 0)
         SELECT CAST(kv[1] AS BIGINT) AS docId, partKey,
           array_to_string(
             list_transform(string_split(kv[2], '|'), t -> t[1]), '')
             AS tTypes,
           array_to_string(
             list_transform(string_split(kv[2], '|'), t -> t[2:]), '|')
             AS texts
         FROM p ORDER BY docId""")) { (s, dir, _) =>
      // A6/A7 `.vt` source/sink, oracle-checked end-to-end: write the doc
      // vectors as a `.vt` dump (reference line format, partKey in the
      // directory), read them back through `VtFiles.read`, and emit the
      // round-tripped fields. The DuckDB oracle parses THE SAME FILES this
      // query wrote (read_text + string splitting) — an independent-engine
      // check of the serialized bytes themselves, not just of the Scala
      // round-trip.
      import s.implicits._
      val (corpus, _) = kgInputs(s, dir)
      val docs = Linker.buildDocs(s, corpus, bdict(s))
      val out = s"$vtDumpDir/vtdump"
      graft.sources.VtFiles.write(docs, out)
      graft.sources.VtFiles.read(s, out)
        .map(d => (d.docId, d.partKey, d.tTypes, d.texts.mkString("|")))
        .toDF("docId", "partKey", "tTypes", "texts")
        .orderBy("docId")
    }
  )

  /** The stub codec's FULL numeric surface recomputed from raw payload
    * bytes: per-byte hash chain h_i = (h_{i-1}*31 + b_i) mod p rewritten
    * with modular-inverse prefix sums (window-summable), then the dyadic
    * feature contributions, one frame-average division, and the norm —
    * cross-engine safe because every pre-division sum is exact. */
  private def q20Sql: String = {
    val P = MultimodalOps.StubCodec.HashP
    val H0 = MultimodalOps.StubCodec.HashSeed
    s"""WITH bt AS (SELECT * FROM ${sp("media_bytes")}),
         pw AS (SELECT * FROM ${sp("pow31")}),
         c AS (
           SELECT bt.media_id, bt.modality, bt.frame_idx, bt.pos, bt.n_frames,
             sum(bt.b * pw.ipow) OVER (PARTITION BY bt.media_id, bt.frame_idx
               ORDER BY bt.pos ROWS UNBOUNDED PRECEDING) AS cum
           FROM bt JOIN pw ON pw.j = bt.pos),
         h AS (
           SELECT media_id, modality, pos, n_frames,
             (($H0 * p1.pow) % $P + (p2.pow * (c.cum % $P)) % $P) % $P AS hi
           FROM c JOIN pw p1 ON p1.j = c.pos + 1
           JOIN pw p2 ON p2.j = c.pos),
         f AS (
           SELECT media_id, any_value(modality) AS modality, pos % 16 AS d,
             CAST(sum((hi % 65536) / 65536.0 - 0.5) AS DOUBLE)
               / any_value(n_frames) AS v,
             any_value(n_frames) AS n_frames
           FROM h GROUP BY media_id, pos % 16)
         SELECT media_id, any_value(modality) AS modality,
           any_value(n_frames) AS n_frames,
           sum(v * v) AS feat_norm2,
           max(CASE WHEN d = 0 THEN v END) AS feat0
         FROM f GROUP BY media_id ORDER BY media_id"""
  }

  /** resizeMedia recomputed as pure arithmetic over the media metadata:
    * pass-through predicate, bounding-box scale (guarded denominators — the
    * pass branch covers width/height = 0), trunc-to-int dims floored at 1,
    * stub length = max(trunc(len · toW·toH/(w·h)), 1). */
  private def q25Sql: String =
    s"""WITH m AS (SELECT * FROM ${sp("media_meta")}),
         r AS (
           SELECT media_id, modality, width, height, content_len,
             (modality = 'audio' OR width <= 0 OR height <= 0
              OR (width <= 32 AND height <= 32)) AS pass,
             least(CAST(32 AS DOUBLE) / greatest(width, 1),
                   CAST(32 AS DOUBLE) / greatest(height, 1)) AS scale
           FROM m),
         t AS (
           SELECT media_id, modality, pass, width, height, content_len,
             greatest(CAST(trunc(width * scale) AS INT), 1) AS toW,
             greatest(CAST(trunc(height * scale) AS INT), 1) AS toH
           FROM r)
         SELECT media_id, modality,
           CASE WHEN pass THEN width ELSE toW END AS width,
           CASE WHEN pass THEN height ELSE toH END AS height,
           CASE WHEN pass THEN content_len
                ELSE greatest(CAST(trunc(content_len *
                  (CAST(toW * toH AS DOUBLE) / greatest(width * height, 1)))
                  AS INT), 1) END AS content_len
         FROM t ORDER BY media_id"""
}
