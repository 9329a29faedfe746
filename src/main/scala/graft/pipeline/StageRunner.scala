package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.storage.StorageLevel

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
  * recompute at scale) and remember it for [[release]]. */
final class PersistStages extends Stages {
  private val held = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  def stage[T: Encoder](name: String)(compute: => Dataset[T]): Dataset[T] = {
    val ds = compute.persist(StorageLevel.MEMORY_AND_DISK)
    held += ds
    ds
  }

  def release(): Unit = { held.foreach(_.unpersist()); held.clear() }
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
  *    protocol (`_SUCCESS` marks the atomic commit — partial writes from a
  *    killed run are invisible to the resume check and simply overwritten);
  *  - per-partition metrics appended to `<root>/_metrics` (stage, partition,
  *    rows, wall, runId) — rows from the committed files' parquet footers,
  *    not from a second pass over the data;
  *  - a completed stage is NEVER recomputed: re-running the job skips to the
  *    first missing stage and reads the materialized table (downstream
  *    stages therefore read checkpointed data, not a recomputed lineage —
  *    resume-identical by construction).
  */
final class StageRunner(spark: SparkSession, root: String, runId: String)
    extends Stages {

  private def dir(name: String) = s"$root/$name"
  def isComplete(name: String): Boolean =
    Files.exists(Paths.get(dir(name), "_SUCCESS"))

  /** Run (or resume) one stage. `compute` is only evaluated when the stage's
    * committed output is absent. */
  def stage[T: Encoder](name: String)(compute: => Dataset[T]): Dataset[T] = {
    import spark.implicits._
    if (!isComplete(name)) {
      val t0 = System.currentTimeMillis()
      compute.write.mode(SaveMode.Overwrite).parquet(dir(name))
      val wall = System.currentTimeMillis() - t0
      val now = System.currentTimeMillis()
      val metrics = partitionRows(dir(name)).map { case (pid, n) =>
        StageMetric(name, pid, n, wall, runId, now)
      }
      spark.createDataset(metrics)
        .write.mode(SaveMode.Append).parquet(s"$root/_metrics")
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
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val Part = """part-(\d+)-.*\.parquet""".r
    p.getFileSystem(conf).listStatus(p).toSeq.flatMap { st =>
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

  def metrics(): Dataset[StageMetric] = {
    import spark.implicits._
    spark.read.parquet(s"$root/_metrics").as[StageMetric]
  }
}

object StageRunner {
  /** Fresh runner with a caller-supplied runId (keep deterministic inputs
    * deterministic — derive runId from config, not wall clock, when replay
    * identity matters). */
  def apply(spark: SparkSession, root: String, runId: String): StageRunner =
    new StageRunner(spark, root, runId)
}
