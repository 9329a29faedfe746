package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.data.SynthCorpus
import graft.kg.KgPipeline
import graft.link.{Dict, Linker}
import graft.model.Turn

/** The benchmark's JVM side: generates one workload's inputs from the seed
  * and writes them as parquet, sets up, runs the workload closed-loop for the
  * requested seconds, checks the outputs and writes a raw report (samples,
  * spans, checks, provenance) as JSON. `perfbench/run.py` turns the report
  * into the result line.
  *
  * It calls only public library entry points. With tracing on, every Spark
  * job is attributed to the span around the call that caused it. */
object Main {

  /** Input sizes of one workload (see perfbench/README.md). */
  final case class Sizes(docs: Long, convs: Long, districts: Int,
      hotTenths: Int, hotConvEvery: Long)

  // Power-law corpus: district 0 holds 8/10 of the docs (about 70k, above
  // the router's 65,536-doc broadcast threshold, and two LinkIndex cells)
  // but only every 16th conversation may mention it; the first cold district
  // takes ~30% of the mentions (hot-and-wide), so both link routes run.
  val Skewed = Sizes(docs = 90000, convs = 8000, districts = 12,
    hotTenths = 8, hotConvEvery = 16)
  // Many turns, tiny corpus: detection, stage writes and analytics dominate.
  val Ingest = Sizes(docs = 4000, convs = 2000, districts = 40,
    hotTenths = 0, hotConvEvery = 0)
  // The set-up's warm-up slice.
  val WarmSlice = Sizes(docs = 2000, convs = 1000, districts = 12,
    hotTenths = 0, hotConvEvery = 0)
  val StreamFiles = 16
  val TopN = 5
  val SetupReps = 3
  val PageRankIters = 3
  // Untraced runs time the first operations after set-up, the first one
  // included. On a shared 4-vCPU host the first operation (JIT and code
  // generation warm-up, about twice a warm one) repeated within 4-7% across
  // runs while later, warm operations varied by 10-24%.
  val MinOps = 2
  val Workloads = Seq("link_skewed", "ingest_checkpointed")

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, report: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val o = Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1", need("--work"),
      need("--report"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 2 * cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rm(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(rm)
    f.delete()
    ()
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Block-manager bytes held by persisted RDDs and checkpoints, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Fixed single-thread loop; its time tracks host contention, not code. */
  def canarySec(): Double = {
    val t0 = now()
    var x = 0L
    var i = 0L
    while (i < 300000000L) { x += i | 1L; i += 1 }
    if (x == 42L) System.err.println("")
    secs(t0, now())
  }

  // ---- inputs ---------------------------------------------------------------

  final case class Inputs(dir: String, sizes: Sizes) {
    def corpus = s"$dir/corpus"
    def turns = s"$dir/turns"
    def warmCorpus = s"$dir/warm/corpus"
    def warmTurns = s"$dir/warm/turns"
    def backlog = s"$dir/backlog"
  }

  private def done(d: String) = new File(d, "_DONE").exists()
  private def markDone(d: String): Unit = {
    new File(d).mkdirs()
    Files.write(Paths.get(d, "_DONE"), Array.emptyByteArray)
    ()
  }

  /** Writes the seeded inputs of `workload` as parquet, once per seed. The
    * stream backlog (traced link_skewed runs only) is the same turns split
    * by conversation into one file per trigger. */
  def generate(spark: SparkSession, b: Broadcast[Dict], workload: String,
      seed: Long, work: String, backlog: Boolean): Inputs = {
    val ingest = workload == "ingest_checkpointed"
    val sizes = if (ingest) Ingest else Skewed
    val in = Inputs(s"$work/inputs/${if (ingest) "ingest" else "skewed"}-" +
      s"${sizes.productIterator.mkString("-")}-s$seed", sizes)
    if (!done(in.dir)) {
      rm(new File(in.dir))
      val (corpus, turns) =
        if (ingest)
          (SynthCorpus.corpusDS(spark, b, sizes.docs, sizes.districts, seed),
           SynthCorpus.transcriptsDS(spark, b, sizes.convs, sizes.districts, seed + 1))
        else
          (SynthCorpus.corpusDSSkewed(spark, b, sizes.docs, sizes.districts, seed,
             sizes.hotTenths),
           SynthCorpus.transcriptsDSSkewed(spark, b, sizes.convs, sizes.districts,
             seed + 1, sizes.hotConvEvery))
      corpus.toDF("id", "rawText").write.parquet(in.corpus)
      turns.write.parquet(in.turns)
      SynthCorpus.corpusDS(spark, b, WarmSlice.docs, WarmSlice.districts, seed + 2)
        .toDF("id", "rawText").write.parquet(in.warmCorpus)
      SynthCorpus.transcriptsDS(spark, b, WarmSlice.convs, WarmSlice.districts, seed + 3)
        .write.parquet(in.warmTurns)
      markDone(in.dir)
    }
    if (backlog && !done(in.backlog)) {
      rm(new File(in.backlog))
      spark.read.parquet(in.turns).repartition(StreamFiles, col("conv_id"))
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.parquet(in.backlog)
      markDone(in.backlog)
    }
    in
  }

  def readCorpus(spark: SparkSession, dir: String): Dataset[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(dir).select("id", "rawText").as[(Long, String)]
  }

  def readTurns(spark: SparkSession, dir: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Turn]
  }

  // ---- report ---------------------------------------------------------------

  final class Report(val opts: Opts) {
    val setupS = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val tracedOps = ArrayBuffer.empty[Map[String, Any]]
    val triggers = ArrayBuffer.empty[Map[String, Any]]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val provenance = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    def check(name: String, ok: Boolean, detail: String): Unit = {
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail); ()
    }

    def write(spans: Seq[Map[String, Any]]): Unit = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      val out = Map("workload" -> opts.workload, "seed" -> opts.seed,
        "seconds" -> opts.seconds, "trace" -> opts.trace,
        "provenance" -> provenance.toMap, "setup_s" -> setupS.toSeq,
        "ops" -> ops.toSeq, "traced_ops" -> tracedOps.toSeq,
        "triggers" -> triggers.toSeq, "checks" -> checks.toSeq,
        "counters" -> counters.toMap, "spans" -> spans)
      Files.write(Paths.get(opts.report), mapper.writeValueAsBytes(out))
      ()
    }
  }

  // ---- running --------------------------------------------------------------

  /** What one set-up leaves behind: the session and the broadcast dictionary. */
  final case class Env(spark: SparkSession, b: Broadcast[Dict])

  /** One set-up: session, `Dict.default`, broadcast and a warm-up slice
    * (interpretation and mention detection over a small slice). The inputs
    * are written in between when they do not exist yet (the first set-up of
    * a run); that time is reported apart and is not set-up time. Returns
    * (env, inputs, set-up s, generation s). */
  def setUp(opts: Opts): (Env, Inputs, Double, Double) = {
    val t0 = now()
    val spark = session(opts.work)
    val b = spark.sparkContext.broadcast(Dict.default())
    val g0 = now()
    val in = generate(spark, b, opts.workload, opts.seed, opts.work,
      backlog = opts.trace && opts.workload == "link_skewed")
    val genS = secs(g0, now())
    Linker.buildDocs(spark, readCorpus(spark, in.warmCorpus), b).count()
    KgPipeline.detectMentions(spark, readTurns(spark, in.warmTurns), b).count()
    (Env(spark, b), in, secs(t0, now()) - genS, genS)
  }

  /** Runs `op` closed-loop (the next call starts when the previous one
    * ends) until at least `minOps` calls and `seconds` have passed. With
    * `warm`, an untimed call 0 runs first. */
  def closedLoop(seconds: Int, minOps: Int, warm: Boolean)(op: Int => Unit): Unit = {
    if (warm) op(0)
    val t0 = now()
    var i = 1
    while (i <= minOps || secs(t0, now()) < seconds) { op(i); i += 1 }
  }

  /** Runs `f`; an exception becomes a failed check instead of ending the run. */
  def attempt(report: Report, name: String)(f: => Unit): Unit =
    try f
    catch {
      case e: Exception =>
        e.printStackTrace()
        report.check(name, ok = false, s"${e.getClass.getName}: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val report = new Report(opts)
    val rt = Runtime.getRuntime
    report.provenance ++= Seq("nproc" -> rt.availableProcessors(),
      "heap_mb" -> rt.maxMemory() / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "canary_s" -> canarySec())

    var env: Env = null
    var in: Inputs = null
    for (rep <- 1 to (if (opts.trace) 1 else SetupReps)) {
      if (env != null) env.spark.stop()
      val (e, i, setupS, genS) = setUp(opts)
      env = e
      in = i
      report.setupS += setupS
      if (rep == 1) report.provenance("gen_s") = genS
    }
    val spark = env.spark
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, opts.trace)
    val nTurns = readTurns(spark, in.turns).count()
    report.provenance ++= Seq("spark" -> spark.version, "docs_in" -> in.sizes.docs,
      "convs" -> in.sizes.convs, "turns" -> nTurns,
      "districts" -> in.sizes.districts)

    val tRun = now()
    attempt(report, "workload") {
      opts.workload match {
        case "link_skewed" =>
          LinkSkewed.run(env, in, nTurns, opts, report, tracer, listener)
        case "ingest_checkpointed" =>
          IngestCheckpointed.run(env, in, nTurns, opts, report, tracer)
      }
    }
    report.provenance("run_s") = secs(tRun, now())
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    report.write(Trace.rows(tracer.spans.toSeq, listener))
    spark.stop()
  }
}
