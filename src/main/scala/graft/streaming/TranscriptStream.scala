package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.kg.KgPipeline
import graft.link.Dict
import graft.model.Turn

/** Structured-Streaming ingest for continuous transcript arrival (SURVEY.md
  * §2-H): `readStream` → the SAME stateless mention-detection stage as batch
  * (`mapPartitions` over the broadcast trie) → `writeStream` with a
  * checkpointLocation. Watermarked tumbling windows + a
  * `flatMapGroupsWithState` conversation sessionizer cover the stateful
  * shapes. The reference has no streaming (batch import + request/response);
  * this is the engine-native idiom the north rule requires.
  */
object TranscriptStream {

  /** Watermarked tumbling-window counts of turns per role (10 min windows,
    * 30 min lateness tolerance). */
  def turnCounts(turns: Dataset[Turn]): DataFrame =
    turns
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("role"))
      .agg(count(lit(1)).as("n_turns"))

  final case class ConvState(nTurns: Long, nMentions: Long, lastTsMs: Long)
  final case class ConvSession(conv_id: String, nTurns: Long, nMentions: Long,
      lastTsMs: Long, closed: Boolean)

  /** Conversation sessionization with custom state: accumulate per-conv turn
    * and mention counts; emit a closed session after `gapMs` idle (processing
    * -time timeout keeps the example runnable without event-time timers). */
  def sessionize(spark: SparkSession, turns: Dataset[Turn],
      dict: Broadcast[Dict], gapMs: Long): Dataset[ConvSession] = {
    import spark.implicits._
    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, ConvSession](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (convId: String, rows: Iterator[Turn], state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ConvSession(convId, s.nTurns, s.nMentions, s.lastTsMs,
              closed = true))
          } else {
            var s = state.getOption.getOrElse(ConvState(0, 0, 0L))
            // Cheap mention signal for the running counter: full detection
            // happens in the stateless mention stream; here we only need
            // per-conv activity stats.
            rows.foreach { t =>
              val hasMention = t.text != null && t.text.length >= 8
              s = ConvState(s.nTurns + 1,
                s.nMentions + (if (hasMention) 1 else 0),
                math.max(s.lastTsMs, t.ts.getTime))
            }
            state.update(s)
            state.setTimeoutDuration(gapMs)
            Iterator.empty
          }
      }
  }

  /** Continuous entity LINKING: arriving turns → mentions → bounded top-k
    * link against a STATIC historical corpus → triples, per micro-batch.
    *
    * Spark-first shape: `foreachBatch` reuses the EXACT batch kernel —
    * `detectMentions` (stateless narrow map over the broadcast trie), then
    * the persisted [[graft.link.LinkIndex]] (corpus packed + partitioned by
    * scoring cell ONCE before the first trigger; queries stamped in-cell
    * from the index's idf blobs) — so stream/batch parity is structural,
    * scores are bit-identical to the batch link, and a micro-batch moves
    * only its own query rows: zero corpus or idf-table shuffles per
    * trigger. Per-query bounded top-k against a
    * reference corpus is NOT expressible as a stateless stream-stream join
    * (each query needs its full candidate set before ranking), so the
    * micro-batch is the correct granularity: all state lives in the static
    * side (docs + idf, persisted once by the caller) and each micro-batch is
    * planned once. Delivery to the sink is AT-LEAST-ONCE — `foreachBatch`
    * can replay a batch after a failure between the sink write and the
    * offset commit — so `batchId` is passed to the sink; an idempotent or
    * transactional sink (e.g. overwrite-by-batchId partition) upgrades this
    * to effective exactly-once. Mention triples ride along so the sink
    * receives each turn's complete triple set atomically.
    *
    * Returns a [[LinkStreamHandle]] carrying BOTH the query and the
    * persisted index, because the index holds a packed copy of the full
    * static corpus in the block manager: callers must `close()` the handle
    * (or `index.unpersist()`) once the stream is done, or every invocation
    * in a long-lived session strands another corpus-sized set of persisted
    * cells. */
  def linkStream(spark: SparkSession, turns: Dataset[Turn],
      dict: Broadcast[Dict], docs: Dataset[graft.model.DocVec],
      idf: Dataset[graft.model.IdfRow], topN: Int, checkpointDir: String)(
      sink: (Dataset[graft.model.Triple], Long) => Unit)
      : LinkStreamHandle = {
    import spark.implicits._
    // The static side is packed, hash-partitioned by scoring cell, and
    // persisted ONCE before the first trigger; each micro-batch cogroups
    // its (tiny) query side against it with the index's own partitioner —
    // narrow on the corpus, so per-batch cost no longer scales with corpus
    // size. Output is bit-identical to the per-batch `linkTopKAuto` this
    // replaces (LinkIndexSpec + StreamingSpec stream==batch).
    val index = graft.link.LinkIndex.build(spark, docs, idf)
    LinkStreamHandle(
      linkStreamWith(spark, turns, dict, index, topN, checkpointDir)(sink),
      index)
  }

  /** [[linkStream]] against a CALLER-OWNED [[graft.link.LinkIndex]] — the
    * production shape of the continuous loop: one index serves many stream
    * incarnations, and between them the caller GROWS it in place
    * (`index.appended` with an imported corpus delta and the refreshed term
    * statistics) without ever repacking the historical bytes. The caller keeps lifecycle responsibility: stop the query, then
    * `index.unpersist()` once the LAST generation retires (StreamingSpec
    * pins the full grow-then-stream round trip against the batch link). */
  def linkStreamWith(spark: SparkSession, turns: Dataset[Turn],
      dict: Broadcast[Dict], index: graft.link.LinkIndex, topN: Int,
      checkpointDir: String)(
      sink: (Dataset[graft.model.Triple], Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    turns.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        // (Round 6 A/B'd a Par.scanSpread-style parallelism floor on the
        // batch before detection — a consistent measured LOSS at sf0.1
        // (5.3→6.2 s): the added exchange's map side still reads the
        // trigger's single file serially, so the shuffle + stage latency
        // cost more than the ~0.3-0.6 s one-task detection it spread. A
        // production-rate trigger carries many splits and parallelizes at
        // the source; kept unspread.)
        val mentions = KgPipeline.detectMentions(spark, batch, dict)
          .persist()
        try {
          val hits = index.link(spark, mentions.map(_.doc), topN)
          sink(KgPipeline.mentionTriples(spark, mentions, dict)
            .union(KgPipeline.linkTriples(spark, mentions, hits)), batchId)
        } finally { mentions.unpersist(); () }
      }
      .start()
  }

  /** A running [[linkStream]] plus the persisted static-side index backing
    * it. The index's packed corpus cells live in the block manager for the
    * stream's whole lifetime — `close()` stops the query and releases them. */
  final case class LinkStreamHandle(
      query: org.apache.spark.sql.streaming.StreamingQuery,
      index: graft.link.LinkIndex) {
    def close(): Unit = {
      if (query.isActive) query.stop()
      index.unpersist()
    }
  }

  /** Wire a parquet-directory stream end-to-end: detected mentions appended
    * to `outDir`, exactly-once via `checkpointDir`. Returns the query. */
  def runMentionIngest(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, dict: Broadcast[Dict])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[Turn].schema
    val turns = spark.readStream.schema(schema).parquet(inputDir).as[Turn]
    // Stateless mention detection: the batch stage itself, so batch/stream
    // parity is structural.
    KgPipeline.detectMentions(spark, turns, dict).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .start()
  }
}
