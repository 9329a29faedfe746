package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheScope

import graft.data.SynthCorpus
import graft.link.{Dict, Linker}

/** End-to-end accuracy regression (SURVEY.md §2 C5 — the reference's
  * headline quality harness `misc/RegressionTestRunTest.java:137-184`):
  * labeled (query → gridId) pairs are linked top-1 against the corpus; the
  * predicted gridId is the linked corpus row's label; results bucket by the
  * 0.85 confidence threshold into high/low-similarity success/failure, plus
  * interpret-fail and no-candidate counters, with the same derived rates
  * (match rate `hs/effective`, low-sim accuracy `ls/(ls+lf)`, high-sim
  * accuracy `hs/(hs+hf)` — `RegressionTestRunTest.java:178-184`).
  *
  * Split into `statusTable` (one row per labeled query with its outcome —
  * the DuckDB-oracle stage table) and `summarize` (one aggregation over it —
  * no driver collect). The expensive shared stages (pairs, docs, idf, qdocs)
  * are cached while the status rows are used: each feeds 2-3 consumers and
  * would otherwise recompute the full interpret per consumer.
  */
object Accuracy {
  val HighSimThreshold = 0.85 // `RegressionTestRunTest.java:150`

  /** `use` of the per-query outcome rows: (pair_id, interpreted, linked,
    * similarity, pred_grid, true_grid). similarity/pred_grid are null when
    * unlinked. The shared stages behind the rows are cached in a
    * [[CacheScope]] for the duration of `use`. */
  def statusTable[T](spark: SparkSession, dict: Broadcast[Dict], n: Long,
      nDistricts: Int, seed: Long)(use: DataFrame => T): T = CacheScope { cache =>
    import spark.implicits._
    // Corpus, queries and labels read the pairs.
    val pairs = cache.persist(spark.range(n).mapPartitions { it =>
      val regions = dict.value.regions
      val anchors = SynthCorpus.pickAnchors(regions, nDistricts)
      it.map(i => SynthCorpus.labeledPair(regions, anchors, i, seed))
    })

    val corpus = pairs.map(p => (p.id, p.corpusText))
    val docs = cache.persist(Linker.buildDocs(spark, corpus, dict))
    val idf = cache.persist(Linker.buildIdf(spark, docs))

    // Query ids offset so they never collide with corpus doc ids.
    val queries = pairs.map(p => (p.id + n, p.queryText))
    // Interpret only — the link stamps query idfs in-cell. Read by the
    // interpreted flag below (ids only) and the link.
    val qdocs = cache.persist(Linker.buildDocs(spark, queries, dict))

    val hits = Linker.linkTopKAuto(spark, qdocs, docs, topN = 1, idf)

    val labels = pairs.select($"id", $"gridId")
    val interpreted = qdocs.map(_.docId - n).toDF("pair_id")
      .withColumn("interpreted", lit(true))
    val predicted = hits.toDF()
      .join(labels.withColumnRenamed("id", "docId")
        .withColumnRenamed("gridId", "pred_grid"), "docId")
      .select((col("queryId") - n).as("pair_id"),
        col("similarity"), col("pred_grid"))

    use(labels.select($"id".as("pair_id"), $"gridId".as("true_grid"))
      .join(interpreted, Seq("pair_id"), "left")
      .join(predicted, Seq("pair_id"), "left")
      .select(col("pair_id"),
        coalesce(col("interpreted"), lit(false)).as("interpreted"),
        col("pred_grid").isNotNull.as("linked"),
        col("similarity"), col("pred_grid"), col("true_grid")))
  }

  /** One summary row from the status table. Rates are plain IEEE divisions of
    * exact counts — bit-identical in any engine, so the DuckDB oracle
    * reproduces them with no rounding slack. */
  def summarize(status: DataFrame): DataFrame = {
    val high = col("similarity") >= HighSimThreshold
    val ok = col("pred_grid") === col("true_grid")
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    status.agg(
        count(lit(1)).as("n_queries"),
        cnt(!col("interpreted")).as("interpret_fail"),
        cnt(col("interpreted") && !col("linked")).as("no_candidates"),
        cnt(col("linked") && high && ok).as("high_ok"),
        cnt(col("linked") && high && !ok).as("high_bad"),
        cnt(col("linked") && !high && ok).as("low_ok"),
        cnt(col("linked") && !high && !ok).as("low_bad"))
      .withColumn("effective",
        col("n_queries") - col("interpret_fail") - col("no_candidates"))
      .select(col("n_queries"), col("interpret_fail"), col("no_candidates"),
        col("high_ok"), col("high_bad"), col("low_ok"), col("low_bad"),
        when(col("effective") > 0,
          col("high_ok").cast("double") / col("effective")).otherwise(0.0)
          .as("match_rate"),
        when(col("low_ok") + col("low_bad") > 0,
          col("low_ok").cast("double") / (col("low_ok") + col("low_bad")))
          .otherwise(0.0).as("low_acc"),
        when(col("high_ok") + col("high_bad") > 0,
          col("high_ok").cast("double") / (col("high_ok") + col("high_bad")))
          .otherwise(0.0).as("high_acc"))
  }

  /** Evaluate on a deterministic synthetic labeled set of `n` pairs.
    * Returns one summary row, already materialized, so repeated calls in a
    * shared session hold zero storage. */
  def evaluate(spark: SparkSession, dict: Broadcast[Dict], n: Long,
      nDistricts: Int, seed: Long): DataFrame =
    statusTable(spark, dict, n, nDistricts, seed) { status =>
      val summary = summarize(status)
      val rows = summary.collect() // exactly one row
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), summary.schema)
    }
}
