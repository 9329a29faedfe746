package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.CheckpointBlocks
import org.scalatest.funsuite.AnyFunSuite

import graft.data.SynthCorpus
import graft.kg.{GraphOps, KgPipeline, MentionDoc}
import graft.link.Linker
import graft.pipeline.KgJob

/** The codegen and job budgets of the link DAG and of the ingest cycle.
  *
  * Spark caches generated classes JVM-wide in a Guava LRU of
  * `spark.sql.codegen.cache.maxEntries` (default 100), a static conf owned by
  * the caller's session. The cache is keyed by (context class loader, code):
  * a whole-stage class is compiled once on the driver and once more under
  * the executor's session loader, so it costs at least 2 entries, and a job
  * started outside a SQL execution (a plain RDD action) runs under yet
  * another loader. The 100 entries are 4 Guava segments of 25 that evict
  * independently, and which segment an entry lands in hashes the loader, so
  * it changes from JVM to JVM. A pipeline whose classes overflow a segment
  * evicts its own classes and recompiles them on every run.
  *
  * So a warm run of docs → idf → mentions → link → triples, on a fixture
  * that splits a district's docs and takes the partial top-k merge, must
  * compile no class at all, and must run no more jobs than the pair-RDD
  * link needs. And the ingest cycle (`KgJob.run`, co-mention, PMI, PageRank,
  * resume) must generate few enough classes that every segment holds its
  * share with room to spare, and a warm cycle compiles nothing. */
class CodegenBudgetSpec extends AnyFunSuite {
  import GoldenFixtures.{dict => d0}

  private lazy val spark = SparkTestBase.spark

  /** Jobs one warm run may start: the route counts and the triples
    * action, whose adaptive plan runs its exchanges as jobs of their own. */
  private val MaxJobs = 7

  /** Classes a cold ingest cycle may compile: 64 entries average 16 of a
    * segment's 25. */
  private val MaxCycleClasses = 64

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm link pipeline run compiles no generated class and runs a bounded job count") {
    val s = spark
    import s.implicits._
    val bdict = s.sparkContext.broadcast(d0)
    val corpus = SynthCorpus.corpus(d0.regions, 400, 4, seed = 23)
    val turns = SynthCorpus.transcripts(d0.regions, 120, 4, seed = 24)

    // Every queried district splits into 2-D cells (valve 32 docs, so
    // db > 1 and partial lists merge).
    def plan(stats: Array[(String, Long, Long)]) = Linker.planRoutes(stats,
      s.sparkContext.defaultParallelism, targetPairsPerCell = 64,
      maxDocsPerCell = 32)

    def run(): (Set[graft.model.Triple], Linker.RoutePlan) = {
      val docs = Linker.buildDocs(s, s.createDataset(corpus).repartition(4), bdict)
        .persist()
      val idf = Linker.buildIdf(s, docs).persist()
      val mentions = KgPipeline.detectMentions(s, s.createDataset(turns), bdict)
        .persist()
      val queries = mentions.map(_.doc)
      val p = plan(Linker.countStats(s, queries, docs))
      val hits = Linker.linkPlanned(s, p, queries, docs, 3, idf)
      val triples = KgPipeline.mentionTriples(s, mentions, bdict)
        .union(KgPipeline.linkTriples(s, mentions, hits)).collect().toSet
      Seq(docs, idf, mentions).foreach(_.unpersist())
      (triples, p)
    }

    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val coldCompiled0 = compiled()
    val (cold, coldPlan) = run()
    info(s"cold run: ${compiled() - coldCompiled0} classes compiled")
    assert(coldPlan.knobs.valuesIterator.exists(_.dBuckets > 1),
      s"the cold plan must split a district's docs: $coldPlan")
    assert(cold.exists(_.pred == "linkedTo"))

    org.apache.spark.perfbench.ListenerDrain(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    val compiled0 = compiled()
    val (warm, _) =
      try run()
      finally {
        org.apache.spark.perfbench.ListenerDrain(s.sparkContext)
        s.sparkContext.removeSparkListener(listener)
      }
    val n = compiled() - compiled0
    info(s"warm run: $n classes compiled, ${jobs.get} jobs")
    assert(warm == cold)
    assert(n == 0, s"the warm run compiled $n generated classes")
    assert(jobs.get <= MaxJobs, s"the warm run started ${jobs.get} jobs")
  }

  test("the ingest cycle fits the codegen cache: a warm cycle compiles no generated class") {
    val s = spark
    import s.implicits._
    val bdict = s.sparkContext.broadcast(d0)
    val dir = Files.createTempDirectory("graft-codegen-cycle")
    try {
      // Parquet inputs, read back as a checkpointed job reads them.
      SynthCorpus.corpus(d0.regions, 400, 4, seed = 31).toDF("id", "rawText")
        .write.parquet(s"$dir/corpus")
      s.createDataset(SynthCorpus.transcripts(d0.regions, 160, 4, seed = 32))
        .write.parquet(s"$dir/turns")
      val parallelism = s.conf.get("spark.sql.shuffle.partitions").toInt

      def job(root: String, runId: String): Set[graft.model.Triple] =
        KgJob.run(s, s.read.parquet(s"$dir/turns").as[graft.model.Turn],
          s.read.parquet(s"$dir/corpus").select("id", "rawText").as[(Long, String)],
          bdict, 5, root, runId, parallelism).collect().toSet

      // KgJob.run into a fresh root, the derived analytics over its stage
      // tables, then the resume on the completed root.
      def cycle(root: String) = {
        val fresh = job(root, "fresh")
        val mentions = s.read.parquet(s"$root/mentions").as[MentionDoc]
        val hits = s.read.parquet(s"$root/hits").as[graft.model.LinkHit]
        val edges = KgPipeline.coMentionEdges(s, mentions, hits)
        val pmi = KgPipeline.pmiEdges(s, mentions, hits)
        val rank = GraphOps.pageRank(edges, 3)(_.collect().toSet)
        val analytics = (edges.collect().toSet, pmi.collect().toSet, rank)
        CheckpointBlocks.release(edges)
        CheckpointBlocks.release(pmi)
        assert(job(root, "resume") == fresh, "resume must equal the fresh run")
        (fresh, analytics)
      }

      val c0 = compiled()
      val cold = cycle(s"$dir/cold")
      val nCold = compiled() - c0
      val c1 = compiled()
      val warm = cycle(s"$dir/warm")
      val nWarm = compiled() - c1
      info(s"cold cycle: $nCold classes compiled; warm cycle: $nWarm")
      assert(cold._1.exists(_.pred == "linkedTo"))
      assert(cold._2._1.nonEmpty && cold._2._3.nonEmpty,
        "the fixture must give co-mention edges to rank")
      assert(warm == cold)
      assert(nCold <= MaxCycleClasses,
        s"the cold cycle compiled $nCold generated classes")
      assert(nWarm == 0, s"the warm cycle compiled $nWarm generated classes")
    } finally rm(dir.toFile)
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
    ()
  }
}
