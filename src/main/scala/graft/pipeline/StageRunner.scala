package graft.pipeline

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.graft.CacheScope

/** How a pipeline materializes the stages it reads more than once.
  * `KgPipeline.run` defines its DAG once against this; [[PersistStages]]
  * keeps each stage in the session's block manager, [[StageRunner]] writes
  * it as a resumable table. */
trait Stages {
  def stage[T: Encoder](name: String)(compute: => Dataset[T]): Dataset[T]

  /** Drop whatever this policy holds in the session's block manager. */
  def release(): Unit
}

/** Persist each stage MEMORY_AND_DISK (partitions spill rather than
  * recompute at scale). The policy is a [[CacheScope]], which owns what it
  * persists: `release` (or the end of a `CacheScope.using` block) frees the
  * stages, newest first. */
final class PersistStages extends CacheScope with Stages {
  def stage[T: Encoder](name: String)(compute: => Dataset[T]): Dataset[T] =
    persist(compute)
}

/** One row of per-partition lineage/metrics (north rule: every stage is
  * resumable with per-partition lineage + metrics; FIXTURES.md §6). */
final case class StageMetric(
    stage: String,
    partitionId: Int,
    rowsOut: Long,
    wallMs: Long,
    runId: String,
    completedAtMs: Long
)

/** Checkpointed stage runner — the Structured-Streaming-style "each stage is
  * a materialized, restartable table" idiom over batch parquet (in-sandbox
  * stand-in for Iceberg snapshots; the storage layer is this one class, so
  * swapping `parquet` for `writeTo(...).append()` is local).
  *
  * Contract per stage:
  *  - output table at `<root>/<name>` written via Spark's committed job
  *    protocol — partial writes from a killed run are simply overwritten;
  *  - once the data has committed, a manifest `<name>/_manifest` (runId,
  *    wall, completion time), written to a temporary file and renamed with
  *    the Hadoop `FileSystem` the footers are read with. It marks the stage
  *    complete: one killed after its data commit has none and is recomputed;
  *  - per-partition metrics (`metrics()`: stage, partition, rows, wall,
  *    runId) come from the manifests and the committed files' parquet
  *    footers, not from a second pass over the data;
  *  - a completed stage is NEVER recomputed: re-running the job skips to the
  *    first missing stage and reads the materialized table (downstream
  *    stages therefore read checkpointed data, not a recomputed lineage —
  *    resume-identical by construction).
  */
final class StageRunner(spark: SparkSession, root: String, runId: String)
    extends Stages {

  private val conf = spark.sparkContext.hadoopConfiguration
  private val fs = new Path(root).getFileSystem(conf)
  private def dir(name: String) = s"$root/$name"
  private def manifest(name: String) = new Path(dir(name), "_manifest")

  def isComplete(name: String): Boolean = fs.exists(manifest(name))

  /** Run (or resume) one stage. `compute` is only evaluated when the stage
    * has no manifest. */
  def stage[T: Encoder](name: String)(compute: => Dataset[T]): Dataset[T] = {
    if (!isComplete(name)) {
      val t0 = System.currentTimeMillis()
      compute.write.mode(SaveMode.Overwrite).parquet(dir(name))
      val now = System.currentTimeMillis()
      val tmp = new Path(dir(name), "_manifest.tmp")
      val out = fs.create(tmp, true)
      try { out.writeUTF(runId); out.writeLong(now - t0); out.writeLong(now) }
      finally out.close()
      if (!fs.rename(tmp, manifest(name)))
        throw new IOException(s"cannot commit the manifest of stage $name")
    }
    // The encoder's schema: inferring it from the footers would cost a job
    // per read.
    spark.read.schema(implicitly[Encoder[T]].schema).parquet(dir(name)).as[T]
  }

  /** Rows per written partition, from the footers of the committed files
    * (a file's partition is the split number in its name, `part-00003-…`).
    * Only committed files count, so the counts are exact under task retry
    * and speculation; a partition that wrote no rows has no file, except
    * the first. */
  private def partitionRows(path: String): Seq[(Int, Long)] = {
    val Part = """part-(\d+)-.*\.parquet""".r
    fs.listStatus(new Path(path)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case Part(split) =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
          try Some(split.toInt -> r.getRecordCount) finally r.close()
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
  }

  /** Stage tables live under `root`; nothing is cached in the session. */
  def release(): Unit = ()

  /** One row per partition of every completed stage under `root`. */
  def metrics(): Dataset[StageMetric] = {
    import spark.implicits._
    val stages = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(isComplete).sorted.toSeq
    spark.createDataset(stages.flatMap { name =>
      val in = fs.open(manifest(name))
      val (id, wall, at) = try (in.readUTF(), in.readLong(), in.readLong())
        finally in.close()
      partitionRows(dir(name)).map { case (pid, n) =>
        StageMetric(name, pid, n, wall, id, at)
      }
    })
  }
}

object StageRunner {
  /** Fresh runner with a caller-supplied runId (keep deterministic inputs
    * deterministic — derive runId from config, not wall clock, when replay
    * identity matters). */
  def apply(spark: SparkSession, root: String, runId: String): StageRunner =
    new StageRunner(spark, root, runId)
}
