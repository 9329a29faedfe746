package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.graft.CheckpointBlocks
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.storage.StorageLevel

import graft.kg.{GraphOps, KgPipeline, MentionDoc}
import graft.link.{LinkIndex, Linker}
import graft.model.{DocVec, IdfRow, LinkHit, Triple, Turn}
import graft.pipeline.{KgJob, StageRunner}
import graft.streaming.TranscriptStream

import Main._

/** link_skewed: closed-loop batch `KgPipeline.run`, parquet → triples. The
  * traced run also times the same DAG call by call, and then streams the same
  * turns through `TranscriptStream.linkStreamWith` (see [[StreamProbe]]). */
object LinkSkewed {

  def run(env: Env, in: Inputs, nTurns: Long, opts: Opts, report: Report,
      tracer: Tracer, listener: GroupListener): Unit = {
    val spark = env.spark
    val digests = ArrayBuffer.empty[String]

    def untraced(i: Int): Unit = attempt(report, s"op$i") {
      val t0 = now()
      val r = KgPipeline.run(spark, readTurns(spark, in.turns),
        readCorpus(spark, in.corpus), env.b, TopN)
      val d = Digest.triples(r.triples)
      val t1 = now()
      val mb = storageMb(spark)
      r.unpersistAll()
      if (i > 0) {
        report.ops += Map("wall_s" -> secs(t0, t1), "turns" -> nTurns,
          "digest" -> d, "storage_mb" -> mb)
        digests += d
      }
    }

    def traced(i: Int): Unit = attempt(report, s"traced$i") {
      Linker.ScoringStageIds.clear()
      val t0 = now()
      val d = tracer.trace(s"link_skewed-$i") {
        tracer.span("workload.op")(callByCall(env, in, report, tracer, nTurns))
      }
      report.tracedOps += Map("wall_s" -> secs(t0, now()), "digest" -> d)
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      val scoringMs = listener.taskMsOfStages(Trace.stageIds(Linker.ScoringStageIds))
      val pairs = report.counters("link.pairs")
      report.counters("link.scoring_task_s") = scoringMs / 1000.0
      report.counters("link.scoring_ms_per_mpair") =
        if (pairs > 0) scoringMs / (pairs / 1e6) else 0.0
      digests += d
    }

    if (!opts.trace) closedLoop(opts.seconds, MinOps, warm = false)(untraced)
    else closedLoop(opts.seconds, 1, warm = true) { i =>
      untraced(i)
      if (i > 0) traced(i)
    }
    val distinct = digests.distinct
    report.check("digest equal across iterations", distinct.size == 1,
      distinct.mkString(","))
    report.provenance("digest") = digests.headOption.getOrElse("")
    if (opts.trace && distinct.size == 1)
      StreamProbe.run(env, in, nTurns, opts, report, tracer, distinct.head)
  }

  /** The same DAG as `KgPipeline.run`, one public call per span, each
    * materialized at the call boundary. Returns the triples digest. */
  def callByCall(env: Env, in: Inputs, report: Report, tracer: Tracer,
      nTurns: Long): String = {
    val spark = env.spark
    import spark.implicits._
    val lvl = StorageLevel.MEMORY_AND_DISK
    def cnt[T](ds: Dataset[T]): Long = ds.count()
    val ded = tracer.spanRows("link.dedupCorpus", cnt[(Long, String)]) {
      Linker.dedupCorpus(spark, readCorpus(spark, in.corpus)).persist(lvl)
    }
    val docs = tracer.spanRows("link.buildDocs", cnt[DocVec]) {
      Linker.buildDocs(spark, ded, env.b).persist(lvl)
    }
    val idf = tracer.spanRows("link.buildIdf", cnt[IdfRow]) {
      Linker.buildIdf(spark, docs).persist(lvl)
    }
    val mentions = tracer.spanRows("kg.detectMentions", cnt[MentionDoc]) {
      KgPipeline.detectMentions(spark, readTurns(spark, in.turns), env.b).persist(lvl)
    }
    val stats = tracer.span("link.countStats") {
      Linker.countStats(spark, mentions.map(_.doc), docs)
    }
    val plan = tracer.span("link.planRoutes") {
      Linker.planRoutes(stats, spark.sparkContext.defaultParallelism)
    }
    val hits = tracer.spanRows("link.linkTopKAuto", cnt[LinkHit]) {
      Linker.linkTopKAuto(spark, mentions.map(_.doc), docs, TopN,
        idf = Some(idf), stampQueries = true).persist(lvl)
    }
    val d = tracer.span("kg.triples") {
      Digest.triples(KgPipeline.mentionTriples(spark, mentions, env.b)
        .union(KgPipeline.linkTriples(spark, mentions, hits)))
    }
    val rows = (name: String) => tracer.named(name).last.rows
    routeCounters(report, plan, rows("link.linkTopKAuto"))
    report.counters("link.doc_yield") =
      rows("link.buildDocs").toDouble / math.max(1L, rows("link.dedupCorpus"))
    report.counters("kg.mention_yield") =
      rows("kg.detectMentions").toDouble / math.max(1L, nTurns)
    Seq(ded, docs, idf, mentions, hits).foreach(_.unpersist())
    d
  }

  def routeCounters(report: Report, plan: Linker.RoutePlan, hits: Long): Unit = {
    report.counters("link.pairs") = plan.pairWork.toDouble
    report.counters("link.shuffle_cells") = plan.shuffleCells.toDouble
    report.counters("link.bcast_districts") = plan.bcastPks.size.toDouble
    report.counters("link.hit_yield") =
      if (plan.pairWork > 0) hits.toDouble / plan.pairWork else 0.0
  }
}

/** ingest_checkpointed: a fresh `KgJob.run` (five stage tables), co-mention
  * and PMI edges and PageRank over the stage tables, then `KgJob.run` again
  * on the completed root (the resume side). */
object IngestCheckpointed {

  def run(env: Env, in: Inputs, nTurns: Long, opts: Opts, report: Report,
      tracer: Tracer): Unit = {
    val spark = env.spark
    import spark.implicits._
    val parallelism = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val digests = ArrayBuffer.empty[String]
    def job(root: String, runId: String) =
      Digest.triples(KgJob.run(spark, readTurns(spark, in.turns),
        readCorpus(spark, in.corpus), env.b, TopN, root, runId, parallelism))

    def op(i: Int, traced: Boolean): Unit = attempt(report, s"op$i") {
      val root = s"${opts.work}/jobs/op$i-$traced"
      rm(new File(root))
      val t0 = now()
      val fresh = tracer.span("pipeline.KgJob.run")(job(root, "fresh"))
      val mentions = spark.read.parquet(s"$root/mentions").as[MentionDoc]
      val hits = spark.read.parquet(s"$root/hits").as[LinkHit]
      val edges = tracer.span("kg.coMentionEdges") {
        KgPipeline.coMentionEdges(spark, mentions, hits)
      }
      val pmi = tracer.span("kg.pmiEdges")(KgPipeline.pmiEdges(spark, mentions, hits))
      val rank = tracer.span("graph.pageRank") {
        GraphOps.pageRank(edges, PageRankIters)(Digest.frame)
      }
      val analytics = s"${Digest.frame(edges)}/${Digest.frame(pmi)}/$rank"
      val mb = storageMb(spark)
      CheckpointBlocks.release(edges)
      CheckpointBlocks.release(pmi)
      val r0 = now()
      val resumed = tracer.span("pipeline.resume")(job(root, "resume"))
      val t1 = now()
      report.check(s"op$i resumed KgJob equals fresh", resumed == fresh,
        s"$fresh vs $resumed")
      if (traced) {
        stageCounters(spark, report, root, nTurns, tracer, mentions)
        report.tracedOps += Map("wall_s" -> secs(t0, t1))
      } else if (i > 0)
        report.ops += Map("wall_s" -> secs(t0, t1), "turns" -> nTurns,
          "storage_mb" -> mb, "resume_s" -> secs(r0, t1))
      if (i > 0) digests += s"$fresh/$analytics"
      rm(new File(root))
    }

    if (!opts.trace) closedLoop(opts.seconds, MinOps, warm = false)(op(_, traced = false))
    else closedLoop(opts.seconds, 1, warm = true) { i =>
      op(i, traced = false)
      if (i > 0) tracer.trace(s"ingest_checkpointed-$i") {
        tracer.span("workload.op")(op(i, traced = true))
      }
    }
    val distinct = digests.distinct
    report.check("digest equal across iterations", distinct.size == 1,
      distinct.mkString(","))
    report.provenance("digest") = digests.headOption.getOrElse("")
  }

  /** Stage walls from `StageRunner.metrics()`, bytes written, and the route
    * counters of the checkpointed link, read back from the stage tables. */
  def stageCounters(spark: SparkSession, report: Report, root: String,
      nTurns: Long, tracer: Tracer, mentions: Dataset[MentionDoc]): Unit = {
    import spark.implicits._
    val metrics = StageRunner(spark, root, "fresh").metrics()
      .filter(_.runId == "fresh").collect()
    val byStage = metrics.groupBy(_.stage)
    byStage.foreach { case (stage, rows) =>
      report.counters(s"pipeline.stage.$stage.wall_s") = rows.map(_.wallMs).max / 1000.0
    }
    def rowsOf(stage: String) = byStage.get(stage).map(_.map(_.rowsOut).sum).getOrElse(0L)
    report.counters("pipeline.stage_mb_written") =
      byStage.keys.toSeq.map(s => dirBytes(new File(root, s))).sum / 1048576.0
    val docs = spark.read.parquet(s"$root/docs").as[DocVec]
    val stats = tracer.span("link.countStats") {
      Linker.countStats(spark, mentions.map(_.doc), docs)
    }
    val plan = tracer.span("link.planRoutes") {
      Linker.planRoutes(stats, spark.sparkContext.defaultParallelism)
    }
    LinkSkewed.routeCounters(report, plan, rowsOf("hits"))
    report.counters("kg.mention_yield") = rowsOf("mentions").toDouble / math.max(1L, nTurns)
  }
}

/** The streaming link, traced link_skewed runs only: corpus docs/idf and a
  * `LinkIndex` built once, then one `TranscriptStream.linkStreamWith` pass
  * over the backlog (one file per trigger, synchronous overwrite-by-batchId
  * sink). The stream's triples must equal the batch link's. */
object StreamProbe {

  final case class Pass(wallS: Double, startMs: Long, t0: Long, rows: Long,
      progress: Seq[StreamingQueryProgress], digest: String, group: String)

  def pass(spark: SparkSession, env: Env, index: LinkIndex, backlog: String,
      dir: String): Pass = {
    import spark.implicits._
    rm(new File(dir))
    val out = s"$dir/out"
    val turns = spark.readStream.schema(Encoders.product[Turn].schema)
      .option("maxFilesPerTrigger", 1).parquet(backlog).as[Turn]
    val startMs = System.currentTimeMillis()
    val t0 = now()
    val q = TranscriptStream.linkStreamWith(spark, turns, env.b, index, TopN,
      s"$dir/checkpoint") { (triples, batchId) =>
      triples.write.mode(SaveMode.Overwrite).parquet(s"$out/batch=$batchId")
    }
    try q.processAllAvailable()
    finally q.stop()
    val wall = secs(t0, now())
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val d = Digest.triples(spark.read.parquet(out)
      .select("subj", "pred", "obj", "score", "partKey").as[Triple])
    rm(new File(dir))
    Pass(wall, startMs, t0, progress.map(_.numInputRows).sum, progress, d,
      q.runId.toString)
  }

  def run(env: Env, in: Inputs, nTurns: Long, opts: Opts, report: Report,
      tracer: Tracer, batchDigest: String): Unit = attempt(report, "stream") {
    val spark = env.spark
    import spark.implicits._
    val lvl = StorageLevel.MEMORY_AND_DISK
    tracer.trace("stream_link") {
      val t0 = now()
      val ded = tracer.spanRows("link.dedupCorpus", (d: Dataset[(Long, String)]) => d.count()) {
        Linker.dedupCorpus(spark, readCorpus(spark, in.corpus)).persist(lvl)
      }
      val docs = tracer.spanRows("link.buildDocs", (d: Dataset[DocVec]) => d.count()) {
        Linker.buildDocs(spark, ded, env.b).persist(lvl)
      }
      val idf = tracer.spanRows("link.buildIdf", (d: Dataset[IdfRow]) => d.count()) {
        Linker.buildIdf(spark, docs).persist(lvl)
      }
      val index = tracer.span("link.LinkIndex.build") {
        LinkIndex.build(spark, docs, idf = Some(idf))
      }
      ded.unpersist()
      report.counters("streaming.setup_s") = secs(t0, now())
      report.counters("streaming.index_mb") = storageMb(spark)
      report.provenance("stream_files") = StreamFiles
      report.provenance("index_db_max") = index.dbByPk.values.max

      val p = tracer.span("streaming.pass") {
        val p = pass(spark, env, index, in.backlog, s"${opts.work}/stream")
        // The stream's jobs run under its own job group (the query run id).
        val query = tracer.record("streaming.query", p.t0,
          p.t0 + (p.wallS * 1e9).toLong, p.group, tracer.current)
        p.progress.foreach { pr =>
          val s = p.t0 + (java.time.Instant.parse(pr.timestamp).toEpochMilli -
            p.startMs) * 1000000L
          tracer.record("streaming.trigger", s,
            s + pr.durationMs.get("triggerExecution").longValue * 1000000L, "", query)
        }
        p
      }
      report.triggers ++= p.progress.map(pr => Map("rows" -> pr.numInputRows,
        "ms" -> pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      report.counters("streaming.turns_per_s") = p.rows / p.wallS
      report.check("stream consumed every turn", p.rows == nTurns, s"${p.rows} of $nTurns")
      report.check("stream triples equal batch triples", p.digest == batchDigest,
        s"stream ${p.digest}, batch $batchDigest")

      // LinkIndex.link on its own, for one backlog file's mentions.
      val file = new File(in.backlog).listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet")).min
      val m = KgPipeline.detectMentions(spark, readTurns(spark, file), env.b).persist(lvl)
      m.count()
      tracer.spanRows("link.LinkIndex.link", (d: Dataset[LinkHit]) => d.count()) {
        index.link(spark, m.map(_.doc), TopN, stampQueries = true)
      }
      m.unpersist()
      index.unpersist()
      docs.unpersist()
      idf.unpersist()
    }
  }
}
