package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.KgPipeline
import graft.link.Dict
import graft.model._

/** The checkpointed end-to-end transcript→KG job (north rule shape):
  * `KgPipeline.run` under a `StageRunner`, so every shared stage (docs, idf,
  * mentions, hits) and the triples materialize as tables under `root`, and a
  * re-run resumes from the first missing stage with per-partition
  * lineage/metrics.
  *
  * The transcript side is repartitioned by hash(conv_id) first, so one
  * conversation's turns co-locate and re-runs are layout-stable.
  */
object KgJob {

  def run(spark: SparkSession, turns: Dataset[Turn],
      corpus: Dataset[(Long, String)], dict: Broadcast[Dict], topN: Int,
      root: String, runId: String, parallelism: Int): Dataset[Triple] = {
    import spark.implicits._
    val runner = StageRunner(spark, root, runId)
    val r = KgPipeline.run(spark, turns.repartition(parallelism, col("conv_id")),
      corpus, dict, topN, runner)
    runner.stage[Triple]("triples")(r.triples)
  }
}
