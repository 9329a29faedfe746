package graft.queries

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CacheScope, CheckpointBlocks}

import graft.SparkEntry
import graft.data.SynthCorpus
import graft.kg.KgPipeline
import graft.link.{Dict, Linker}
import graft.model.Turn
import graft.ops.{AnnOps, MultimodalOps}
import graft.pipeline.PersistStages

/** Plumbing shared by the query families: inputs, the shared dictionary,
  * result stashing, the stage tables the kg oracles read, and the
  * towns-loop bundle three callers share. */
private[graft] object QuerySupport {

  // ---- shared dictionary (built once per JVM, broadcast once per session) --
  private[queries] lazy val dict: Dict = Dict.default()
  @volatile private var bcache: (SparkSession, Broadcast[Dict]) = null
  private[queries] def bdict(spark: SparkSession): Broadcast[Dict] = synchronized {
    if (bcache == null || !(bcache._1 eq spark))
      bcache = (spark, spark.sparkContext.broadcast(dict))
    bcache._2
  }

  private[queries] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale knobs from the sf directory name. */
  private[queries] def scaleOf(dir: String): (Int, Int, Int) = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)
    if (sf >= 0.1) (20000, 6000, 12)
    else if (sf >= 0.01) (3000, 800, 8)
    else (400, 120, 5)
  }

  /** The synthetic media table (sized with the sf) the media queries and
    * their stage tables share. */
  private[queries] def media(s: SparkSession, dir: String): Dataset[MultimodalOps.MediaRow] =
    MultimodalOps.synthesize(s, scaleOf(dir)._1.toLong, seed = 11)

  private[queries] def kgInputs(spark: SparkSession, dir: String) = {
    val (corpusN, nConvs, nDistricts) = scaleOf(dir)
    val b = bdict(spark)
    val corpus = SynthCorpus.corpusDS(spark, b, corpusN, nDistricts, seed = 42)
    val turns = SynthCorpus.transcriptsDS(spark, b, nConvs, nDistricts, seed = 7)
    (corpus, turns)
  }

  /** Delete a file or a directory tree. */
  private[queries] def rm(p: java.io.File): Unit = {
    val cs = p.listFiles(); if (cs != null) cs.foreach(rm); p.delete(); ()
  }

  /** Materialize-then-release: checkpoint a pipeline result to a temp
    * parquet and read it back, truncating lineage so every cache the run
    * holds can be released BEFORE the caller consumes the DataFrame. The
    * extra write is one small (top-k-bounded) table per query; at 100 TB
    * this is exactly the StageRunner materialize-stage pattern.
    * `coalesce(1)` because a multi-file parquet scan re-packs files
    * size-descending, which would silently scramble the query's ORDER BY on
    * read-back; all stashed outputs are top-k-bounded, so one file is the
    * right layout. Stash dirs live under one per-JVM root deleted on exit. */
  private[queries] lazy val stashRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-stash")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(root.toFile)))
    root
  }
  private[queries] def stash(s: SparkSession, df: DataFrame, name: String): DataFrame = {
    // Stable per-name dir (mode overwrite): repeated invocations in a
    // long-lived session (Bench's two passes, a service loop) reuse the same
    // space instead of accumulating one temp dir per call.
    val dir = stashRoot.resolve(name).toString
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
  }

  /** Dedicated dump root for the `.vt` export (q24) — OUTSIDE both the
    * stage dir (which the oracle compare sweeps as all-parquet) and
    * `stashRoot` (whose shutdown hook would delete the files before the
    * DuckDB oracle re-reads them). Never deleted by this JVM: the oracle
    * SQL interpolates this absolute path and runs after exit.
    * PER-PROCESS path under a stable root: a single shared dir would let
    * two concurrent Verify/Bench JVMs overwrite each other's dump between a
    * session's exit and its DuckDB oracle pass (spurious byte mismatch);
    * a pid suffix makes that impossible, and pruning STALE sibling dumps
    * (>6h old — the oracle runs within minutes of exit) at first use keeps
    * the accumulation bounded. */
  private[queries] lazy val vtDumpDir: String = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft-vt")
    java.nio.file.Files.createDirectories(root)
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    val sibs = root.toFile.listFiles()
    if (sibs != null) sibs.foreach { f =>
      if (f.getName.startsWith("dump-") && f.lastModified() < cutoff) rm(f)
    }
    root.resolve(s"dump-${ProcessHandle.current().pid()}").toString
  }

  /** Run the KG pipeline, materialize one derived result, release all run
    * caches. */
  private[graft] def scoped(s: SparkSession, dir: String, topN: Int, name: String)(
      f: KgPipeline.KgRun => DataFrame): DataFrame =
    CacheScope.using(new PersistStages) { stages =>
      val (corpus, turns) = kgInputs(s, dir)
      stash(s, f(KgPipeline.run(s, turns, corpus, bdict(s), topN, stages)), name)
    }

  /** Stash `finish(ck)` under `name`, then free `ck`'s blocks: how a query
    * consumes an EAGERLY CHECKPOINTED op result (one that left its
    * `CacheScope` through `checkpoint`). */
  private[queries] def stashCk(s: SparkSession, name: String, ck: DataFrame)(
      finish: DataFrame => DataFrame): DataFrame =
    try stash(s, finish(ck), name)
    finally CheckpointBlocks.release(ck)

  /** `scoped` for the derived analytics that return checkpointed results
    * (coMentionEdges/pmiEdges/negativeSamples/entityTimeline/toolEntityEdges),
    * whose blocks the scope frees before the run's caches. `f` also receives
    * the turns dataset for the ops that join transcript structure. */
  private[queries] def scopedCk(s: SparkSession, dir: String, topN: Int, name: String)(
      f: (KgPipeline.KgRun, Dataset[Turn]) => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame =
    CacheScope.using(new PersistStages) { stages =>
      val (corpus, turns) = kgInputs(s, dir)
      val r = KgPipeline.run(s, turns, corpus, bdict(s), topN, stages)
      stash(s, finish(stages.hold(f(r, turns))(CheckpointBlocks.release)), name)
    }

  /** Canonicalization loop, closed (reference `ExtractTown.main` →
    * `AddressPersister.importRegionTowns` → next trie build): discover
    * town/village surface forms, grow the dictionary
    * (`KgPipeline.growDict`), re-interpret the SAME corpus with the grown
    * trie, and emit every row whose division now resolves a DISCOVERED
    * region id — proof the second pass treats them as real Town/Village
    * regions. Shared by kg_towns_loop (rows-only), kg_towns_loop_check (the
    * DuckDB-oracled invariant aggregate over these rows) and the
    * `towns_loop` stage table. The rows are stashed under `name` before the
    * per-call broadcasts are dropped (stash truncates lineage), so repeated
    * invocations don't accumulate grown dicts.
    *
    * Returns (loop rows, discovered-region table). The side table is
    * derived from the MERGED dictionary's new regions — the same rows
    * `Linker.discoverTowns` emits, because both assign ids through the one
    * assigner (`Dict.discoveredTowns`) — so the whole bundle
    * costs ONE full-corpus candidate pass + one interpret pass. */
  private[queries] def townsLoopBundle(s: SparkSession, dir: String,
      name: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val (corpus, _) = kgInputs(s, dir)
    val b = bdict(s)
    val b2 = KgPipeline.growDict(s, corpus, b)
    val d2 = b2.value
    val baseIds = b.value.regions.all.iterator.map(_.id).toSet
    val newRegions = d2.regions.all.filter(r => !baseIds.contains(r.id))
    val newNames: Map[Long, String] =
      newRegions.iterator.map(r => r.id -> r.name).toMap
    val bNew = s.sparkContext.broadcast(newNames)
    val df = Linker.interpretCorpus(s, corpus, b2)
      .filter(a => bNew.value.contains(a.townId) ||
        bNew.value.contains(a.villageId))
      .map(a => (a.id, a.pid, a.cid, a.did, a.townId,
        bNew.value.getOrElse(a.townId, null),
        a.villageId, bNew.value.getOrElse(a.villageId, null)))
      .toDF("doc_id", "pid", "cid", "did", "town_id", "town_name",
        "village_id", "village_name")
      .orderBy("doc_id")
    val out = stash(s, df, name)
    val nt = s.createDataset(newRegions.map(r =>
        (r.parentId, r.name, r.id, r.regionType)))
      .toDF("district_id", "name", "new_region_id", "region_type")
    b2.destroy(); bNew.destroy()
    (out, nt)
  }

  // ---- KG stage materialization (the kg_* DuckDB-oracle path) --------------
  // The kg_* queries run on an in-Spark synthesized corpus, so DuckDB can't
  // see their inputs directly. Verify materializes the pipeline's STAGE
  // TABLES to parquet once per run; each kg oracle then recomputes its
  // query's final transform from those tables in DuckDB. The stage tables
  // come from the same deterministic builders the queries call
  // (bit-identical across parallelism — KgPipelineSpec).

  /** One stage table as a DuckDB scan; `stageDir` is read at call time. */
  private[queries] def sp(name: String): String =
    s"read_parquet('${SparkEntry.stageDir}/$name/*.parquet')"

  /** Write every stage table the kg oracles reference. One pipeline pass. */
  def materializeStage(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val b = bdict(s)
    val (corpus, turns) = kgInputs(s, dir)
    val out = SparkEntry.stageDir
    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")

    w(corpus.toDF("docId", "docText"), "corpus")
    w(corpus.union(corpus.map { case (id, t) => (id + 1000000L, t) })
      .toDF("id", "rawText"), "corpus_doubled")

    CacheScope { cache =>
      val docs = cache.persist(Linker.buildDocs(s, corpus, b))
      w(docs.toDF().select(col("docId"), col("partKey")), "docs")
      w(Linker.termKeyRows(s, docs), "termrows")
    }

    w(Linker.townCandidates(s, corpus, b), "town_candidates")
    // Second-pass loop rows for the kg_towns_loop_check oracle: DuckDB
    // re-checks each row's discovered ids/names/types against the
    // town_candidates recompute and the raw corpus text.
    w(townsLoopBundle(s, dir, "towns_loop")._1, "towns_loop")
    w(s.createDataset(dict.regions.all.map(r => (r.id, r.parentId)))
      .toDF("id", "parentId"), "regions")
    // Raw turn text keyed like mention subjects — the kg_mentions_check
    // oracle verifies mention rows against their source turns; role/tool/
    // ts_ms feed the kg_meta_triples / kg_timeline / kg_tool_edges oracles.
    w(turns.map(t => (s"${t.conv_id}#${t.turn_idx}", t.text, t.role,
        Option(t.tool).getOrElse(""), t.ts.getTime))
      .toDF("subj", "text", "role", "tool", "ts_ms"), "turns")

    CacheScope.using(new PersistStages) { stages =>
      val r = KgPipeline.run(s, turns, corpus, b, 5, stages)
      w(r.hits.toDF(), "hits5")
      // Bounded top-k is prefix-stable: rank<=3 of a topN=5 run IS the topN=3
      // run (pinned ties), so one pipeline pass serves both hit tables.
      w(r.hits.toDF().where(col("rank") <= 3)
        .withColumn("similarity", round(col("similarity"), 9)), "hits3")
      w(r.mentions.map { m =>
        val a = m.addr
        (m.queryId, s"${m.convId}#${m.turnIdx}", m.doc.partKey, a.pid, a.cid,
          a.did, a.streetId, a.townId, a.villageId, a.road, a.roadNum,
          a.buildingNum, a.text)
      }.toDF("queryId", "subj", "partKey", "pid", "cid", "did", "street_id",
        "town_id", "village_id", "road", "road_num", "building_num", "residual"),
        "mentions")

      // Per-term explain stage tables: the kg_links_explain oracle recomputes
      // scoreExplain (lookups, boosts, coord/density, tfidf) in DuckDB from
      // these. Both sides are stamped here with the run's own idf (run()
      // keeps them unstamped; the link stamps in-cell), straight from the run
      // the hit tables came from.
      val qdocs = Linker.attachIdf(s, r.mentions.map(_.doc), r.idf)
      val ddocs = Linker.attachIdf(s, r.docs, r.idf)
      w(qdocs.flatMap(d => d.texts.indices.map(i =>
          (d.docId, i, d.texts(i), d.tTypes.charAt(i).toString, d.idfs(i))))
        .toDF("queryId", "qi", "text", "type", "idf"), "explain_qterms")
      w(qdocs.map(d => (d.docId, d.partKey, d.town, d.village, d.road,
          d.roadNumValue, d.tTypes.count(_ == 'X')))
        .toDF("queryId", "partKey", "town", "village", "road", "roadNumValue",
          "qXCount"), "explain_qmeta")
      w(ddocs.flatMap(d => d.texts.indices.map(i =>
          (d.docId, i, d.texts(i), d.tTypes.charAt(i).toString, d.idfs(i))))
        .toDF("docId", "di", "text", "type", "idf"), "explain_dterms")
      w(ddocs.map(d => (d.docId, d.partKey, d.town, d.village, d.road,
          d.roadNum, d.roadNumValue, d.tTypes.indexOf('N')))
        .toDF("docId", "partKey", "town", "village", "road", "roadNum",
          "roadNumValue", "roadNumIdx"), "explain_dmeta")
    }

    val (n, _, nDistricts) = scaleOf(dir)
    graft.kg.Accuracy.statusTable(s, b, n.toLong, nDistricts, seed = 77)(
      w(_, "acc_status"))

    // Shared inputs the ANN/media oracles recompute from: the seeded
    // hyperplane table q16/q22 bucket with, the deterministic IVF centroid
    // table q23 quantizes against, and the synthetic media metadata q25/q26
    // derive from. With these in DuckDB's view, bucket keys, cell
    // assignment, every emitted cosine, and the resize/frame arithmetic are
    // recomputed by an independent engine.
    w(s.createDataset(
        org.apache.spark.sql.graft.LshKernel.hyperplanes(64, 6 * 16).toSeq
          .zipWithIndex.map { case (p, i) => (i, p) })
      .toDF("pid", "plane"), "lsh_planes")
    w(s.createDataset(
        AnnOps.ivfCentroids(t(s, dir, "embeddings"), 64).toSeq)
      .toDF("cell", "cvec"), "ivf_centroids")
    // q38/q39 Lloyd init (k=8): same deterministic hash-sampled pick; the
    // oracle iterates the whole k-means chain from these exact doubles.
    w(s.createDataset(
        AnnOps.ivfCentroids(t(s, dir, "embeddings"), AnnQueries.KmeansK).toSeq)
      .toDF("cell", "cvec"), "kmeans_init")
    // q42's PQ codebook: the deterministic hash-sampled subvector
    // codewords — the oracle re-encodes every vector against these exact
    // doubles and replays the ADC scan + re-rank.
    w(s.createDataset(
        AnnOps.pqCodebook(t(s, dir, "embeddings"), AnnQueries.EmbDim,
          AnnQueries.PqM, AnnQueries.PqKs).toSeq)
      .toDF("sub", "code", "cvec"), "pq_codebook")
    w(media(s, dir)
      .toDF().select(col("media_id"), col("modality"), col("width"),
        col("height"), col("content_len")), "media_meta")

    // q20 byte-level stage tables: the RAW payload bytes of every sampled
    // frame, plus a mod-p power table — DuckDB recomputes the codec's hash
    // chain (h = (h*31 + b) mod p) for EVERY byte position via
    // modular-inverse prefix sums (h_i = (H0*31^(i+1) + 31^i * Σ b_j*31^(-j))
    // mod p), then the features, the frame average, and the norm.
    locally {
      val P = MultimodalOps.StubCodec.HashP
      def modpow(b: Long, e: Long): Long = {
        var r = 1L; var bb = b % P; var ee = e
        while (ee > 0) {
          if ((ee & 1L) == 1L) r = r * bb % P
          bb = bb * bb % P; ee >>= 1
        }
        r
      }
      val inv31 = modpow(31L, P - 2)
      w(s.createDataset((0 to 260).map(j =>
          (j, modpow(31L, j.toLong), modpow(inv31, j.toLong))))
        .toDF("j", "pow", "ipow"), "pow31")
      w(media(s, dir)
        .flatMap { row =>
          val frames =
            if (row.modality == "video")
              MultimodalOps.StubCodec.sampleFrames(row.content, 2)
            else Array(row.content)
          frames.iterator.zipWithIndex.flatMap { case (fr, fi) =>
            fr.iterator.zipWithIndex.map { case (b, i) =>
              (row.media_id, row.modality, fi, i, (b & 0xff).toInt,
                frames.length)
            }
          }
        }
        .toDF("media_id", "modality", "frame_idx", "pos", "b", "n_frames"),
        "media_bytes")
    }
  }
}
