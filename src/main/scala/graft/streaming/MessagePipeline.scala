package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.avro.AvroCodec
import graft.pipeline.{Enrich, GraftConfig}
import graft.sink.ParquetUpsertSink

/** The whole reference job (BackupMessageConsumer.java:33-63) as a
  * Structured Streaming assembly:
  *
  *   source(bytes) → avro-decode → enrich → foreachBatch {
  *     detail upsert (MESSAGE_HISTORY) + summary distinct upsert
  *     (MESSAGE_HISTORY_SUMMARY) }
  *
  * Checkpointed micro-batches + idempotent keyed upserts reproduce the
  * reference's effectively-once contract (checkpointed Kafka offsets +
  * Cassandra primary-key upsert, SURVEY.md §2.8) without its
  * silent-drop-on-async-failure hole (R2).
  *
  * Kafka is a config swap (`format("kafka")`) when the connector jar is
  * present; offline, callers pass any streaming DataFrame with a binary
  * `value` column (MemoryStream in tests, file source in production).
  */
object MessagePipeline {

  /** The summary sink's helper thread for one query (guide §2.6: overlap
    * independent jobs). One thread is enough — each micro-batch runs
    * exactly one summary upsert beside the detail upsert on the caller's
    * thread — and one per query keeps two queries in one JVM from
    * queueing their summary upserts behind each other. The thread starts
    * with the query's first batch and ends after 60 s without work, so
    * it lives across the batches of a running query and needs no
    * shutdown hook or listener; a daemon, it never blocks JVM exit. Each
    * upsert sets its own query's job group (see [[start]]).
    */
  private def summaryExecutor(): scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      new java.util.concurrent.ThreadPoolExecutor(0, 1,
        60L, java.util.concurrent.TimeUnit.SECONDS,
        new java.util.concurrent.LinkedBlockingQueue[Runnable](), r => {
          val t = new Thread(r, "graft-summary-sink")
          t.setDaemon(true)
          t
        }))

  /** raw binary `value` column → decoded message columns (native
    * Catalyst expression; fail-fast on malformed bytes like the
    * reference — use [[decodeWithDeadLetter]] to quarantine instead).
    */
  def decode(raw: DataFrame): DataFrame =
    raw.select(graft.plans.AvroDecodeMessage(col("value")).as("m"))
      .select("m.*")

  /** Lenient split: malformed records route to a dead-letter frame
    * (raw bytes + arrival time) instead of failing the job — the
    * operational improvement over the reference's fail-the-job
    * (AvroDeserializationSchema.java:47-49). Returns (decoded, dead).
    */
  def decodeWithDeadLetter(raw: DataFrame): (DataFrame, DataFrame) = {
    val attempted = raw.select(col("value"),
      graft.plans.AvroDecodeMessage(col("value"), failFast = false).as("m"))
    val decoded = attempted.filter(col("m").isNotNull).select("m.*")
    val dead = attempted.filter(col("m").isNull)
      .select(col("value"), current_timestamp().as("dead_lettered_at"))
    (decoded, dead)
  }

  /** Attach the sink stage to an enriched (history-schema) stream; it
    * drains what is available and stops (`Trigger.AvailableNow`).
    */
  private def start(
      history: DataFrame,
      detailPath: String,
      summaryPath: String,
      checkpointDir: String,
      queryName: Option[String]
  ): StreamingQuery = {
    val spark = history.sparkSession
    val sinkEc = summaryExecutor()
    val writer = history.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
    queryName.foreach(writer.queryName)
    writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sc = spark.sparkContext
        val b = batch.persist()
        try {
          // r18 (guide §2.6): the two sinks write DIFFERENT tables from
          // the same persisted batch — independent jobs, so the summary
          // upsert runs on a helper thread while the detail upsert runs
          // here, and the batch's wall-clock is max(detail, summary)
          // instead of their sum. Effectively-once is untouched: BOTH
          // writes complete (or fail) before this closure returns — the
          // Await below is unconditional — so a failure in either sink
          // still fails the batch before the checkpoint commits, and
          // the replay re-runs two idempotent upserts exactly as it
          // re-ran two sequential ones. Job groups and descriptions are
          // thread-local: the summary upsert runs in THIS query's group
          // (its runId, set by the stream on this thread), so
          // query.stop()'s cancelJobGroup reaches it, and each sink
          // stays labeled in the UI.
          val group = sc.getLocalProperty("spark.jobGroup.id")
          val summaryF = scala.concurrent.Future {
            sc.setJobGroup(group, s"batch $batchId: summary upsert",
              interruptOnCancel = true)
            try new ParquetUpsertSink(spark, summaryPath)
              .upsertDistinct(Enrich.summary(b))
            finally sc.clearJobGroup()
          }(sinkEc)
          try {
            val detail = scala.util.Try {
              sc.setJobDescription(s"batch $batchId: detail upsert")
              new ParquetUpsertSink(spark, detailPath, Some("date_partition"))
                .upsert(b, Seq("message_id"), "sent_time")
            }
            // both sinks must be QUIESCENT before the closure returns
            // (returning with a summary write in flight would let the next
            // batch's writer race it on the same path), so await the
            // helper unconditionally, then surface the first failure
            scala.concurrent.Await.ready(summaryF,
              scala.concurrent.duration.Duration.Inf)
            detail.get
            summaryF.value.get.get
            ()
          } catch {
            case e: InterruptedException =>
              quiesce(sc, group, summaryF)
              throw e
          }
        } finally { sc.setJobDescription(null); b.unpersist(); () }
      }
      .start()
  }

  /** `query.stop()` interrupted a batch (its detail upsert or the wait
    * for the summary): cancel the batch's job group, this batch's later
    * jobs included (the summary upsert's retries), then wait, not
    * interruptibly, until the summary upsert has returned — a driver
    * step such as its job commit cannot be cancelled, and no write of a
    * stopped batch may outlive the closure. The caller re-raises the
    * interrupt.
    */
  private def quiesce(sc: org.apache.spark.SparkContext, group: String,
      summary: scala.concurrent.Future[_]): Unit = {
    if (group != null) sc.cancelJobGroupAndFutureJobs(group)
    while (!summary.isCompleted)
      try scala.concurrent.Await.ready(summary, scala.concurrent.duration.Duration.Inf)
      catch { case _: InterruptedException => () }
  }

  /** End-to-end: raw byte stream → decoded → enriched → sinks. */
  def run(
      raw: DataFrame,
      cfg: GraftConfig,
      detailPath: String,
      summaryPath: String,
      checkpointDir: String,
      queryName: Option[String] = None
  ): StreamingQuery =
    start(Enrich(decode(raw), cfg), detailPath, summaryPath, checkpointDir,
      queryName)
}
