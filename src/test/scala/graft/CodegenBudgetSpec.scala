package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.data.SynthCorpus
import graft.kg.KgPipeline
import graft.link.Linker

/** The link DAG's codegen and job budget. Spark caches generated classes
  * JVM-wide in an LRU of `spark.sql.codegen.cache.maxEntries` (default 100),
  * a static conf owned by the caller's session. A pipeline whose operators
  * generate more classes than that evicts its own classes and recompiles
  * them on every run. So a warm run of docs → idf → mentions → link →
  * triples, on a fixture that takes both link routes and the partial top-k
  * merge, must compile no class at all, and must run no more jobs than the
  * pair-RDD link needs. */
class CodegenBudgetSpec extends AnyFunSuite {
  import GoldenFixtures.{dict => d0}

  private lazy val spark = SparkTestBase.spark

  /** Jobs one warm run starts: the route counts, the broadcast route's
    * query and idf collects, and the triples action, whose adaptive plan
    * runs its exchanges as jobs of their own. */
  private val MaxJobs = 7

  test("a warm link pipeline run compiles no generated class and runs a bounded job count") {
    val s = spark
    import s.implicits._
    val bdict = s.sparkContext.broadcast(d0)
    val corpus = SynthCorpus.corpus(d0.regions, 400, 4, seed = 23)
    val turns = SynthCorpus.transcripts(d0.regions, 120, 4, seed = 24)

    // The route thresholds come from the fixture's own counts: the
    // narrowest queried district takes the broadcast route and the rest
    // split into 2-D cells (valve 32 docs, so db > 1 and partial lists
    // merge).
    def plan(stats: Array[(String, Long, Long)]) = Linker.planRoutes(stats,
      s.sparkContext.defaultParallelism, targetPairsPerCell = 64,
      maxDocsPerCell = 32, bcastQMax = stats.iterator.map(_._2).filter(_ > 0).min)

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
    val coldCompiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (cold, coldPlan) = run()
    info(s"cold run: ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - coldCompiled0} classes compiled")
    assert(coldPlan.bcastPks.nonEmpty && coldPlan.shufflePks.nonEmpty,
      s"fixture must take both routes: $coldPlan")
    assert(coldPlan.knobs.valuesIterator.exists(_.dBuckets > 1), coldPlan.knobs)
    assert(cold.exists(_.pred == "linkedTo"))

    org.apache.spark.perfbench.ListenerDrain(s.sparkContext)
    s.sparkContext.addSparkListener(listener)
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (warm, _) =
      try run()
      finally {
        org.apache.spark.perfbench.ListenerDrain(s.sparkContext)
        s.sparkContext.removeSparkListener(listener)
      }
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    info(s"warm run: $compiled classes compiled, ${jobs.get} jobs")
    assert(warm == cold)
    assert(compiled == 0, s"the warm run compiled $compiled generated classes")
    assert(jobs.get <= MaxJobs, s"the warm run started ${jobs.get} jobs")
  }
}
