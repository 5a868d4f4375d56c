package graft.streaming

import graft.operators.MvTransform
import graft.sources.ChangeLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The end-to-end incremental pipeline: change-log source → MV transform
  * → append to the versioned-upsert log.
  *
  * Mirrors the reference topology (SURVEY.md §3.1): Debezium polls every
  * 500 ms (`/root/reference/connectors/debezium_configuration.json:11`),
  * the sink lands events, and the materialized view incrementally
  * transforms each inserted block
  * (`/root/reference/schemas/clickhouse_schemas.sql:39-58`). Structured
  * Streaming gives the same incremental contract: each micro-batch runs
  * [[MvTransform]] over new rows only and appends to the bookings log.
  *
  * Delivery: at-least-once, the same as the reference's sink
  * (`clickhouse_sink_configuration.json:13`). The sink is a
  * `foreachBatch` append, so a micro-batch replayed after a crash
  * between its append and its commit-log entry is appended again, and
  * a fresh checkpoint re-appends every change file. The versioned
  * argmax in [[graft.operators.VersionedUpsert.finalView]] (FINAL)
  * collapses those duplicates, so the table read is the same.
  *
  * Every query here starts through [[startBatches]], which installs
  * [[LocalCheckpointFileManager]] on the session.
  */
object CdcPipeline {

  /** Poll cadence matching the reference's `poll.interval.ms=500`. */
  val pollTrigger: Trigger = Trigger.ProcessingTime("500 milliseconds")

  /** Start the pipeline from a file-based change-log directory.
    *
    * @param trigger `Trigger.AvailableNow()` in tests (drain and stop);
    *   [[pollTrigger]] for a long-running tail.
    * @param deadLetterDir when set, non-data envelopes (schema-change /
    *   heartbeat messages the MV op-filter would silently drop, T7)
    *   are appended here in their raw envelope shape instead of being
    *   discarded — same micro-batch, same checkpoint, so the side
    *   output inherits the main path's delivery guarantee.
    */
  def start(
      spark: SparkSession,
      changesDir: String,
      bookingsDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      deadLetterDir: Option[String] = None): StreamingQuery = {
    val envelope = ChangeLog.fileStream(spark, changesDir)
    deadLetterDir match {
      case None =>
        writeTo(MvTransform(envelope), bookingsDir, checkpointDir, trigger)
      case Some(dl) =>
        startBatches(envelope, checkpointDir, trigger) { batch =>
          batch.persist() // two sinks read the same micro-batch once
          try {
            MvTransform(batch).write.mode("append").parquet(bookingsDir)
            MvTransform.droppedEnvelopes(batch)
              .write.mode("append").parquet(dl)
          } finally batch.unpersist()
        }
    }
  }

  /** Data-quality metrics riding the upsert stream via
    * `Dataset.observe`: row count, null-key count, and max version per
    * micro-batch, computed inside the existing pass (accumulator-
    * backed — NO second scan, no extra shuffle) and surfaced through
    * `StreamingQueryProgress.observedMetrics` / the listener bus. The
    * observability contract every production pipeline wants: the sink
    * write and its quality counters come from the same rows, so an
    * alert can never disagree with the data that landed.
    */
  def withQualityMetrics(upserts: DataFrame,
                         name: String = "cdc_quality"): DataFrame = {
    import org.apache.spark.sql.functions._
    upserts.observe(name,
      count(lit(1)).as("rows"),
      sum(when(col("booking_id").isNull, 1L).otherwise(0L)).as("null_keys"),
      max(col("version")).as("max_version"))
  }

  /** Transform-side-agnostic sink: append each micro-batch of upsert rows
    * to the log. `foreachBatch` mirrors the reference's
    * insert-block-triggered MV; the batch write itself is a plain
    * append, so at-least-once replays are tolerated by design
    * (SURVEY.md A4).
    */
  def writeTo(
      upserts: DataFrame,
      bookingsDir: String,
      checkpointDir: String,
      trigger: Trigger): StreamingQuery =
    startBatches(upserts, checkpointDir, trigger)(
      _.write.mode("append").parquet(bookingsDir))

  /** Start `stream` as a checkpointed `foreachBatch` query running
    * `sink` on each micro-batch. Every graft query start goes through
    * here, so each one installs [[LocalCheckpointFileManager]] first.
    */
  def startBatches(
      stream: DataFrame,
      checkpointDir: String,
      trigger: Trigger)(sink: DataFrame => Unit): StreamingQuery = {
    LocalCheckpointFileManager.install(stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => sink(batch) }
      .start()
  }

  /** Drain all currently-available input synchronously (test helper). */
  def runOnce(
      spark: SparkSession,
      changesDir: String,
      bookingsDir: String,
      checkpointDir: String,
      deadLetterDir: Option[String] = None): Unit = {
    val q = start(spark, changesDir, bookingsDir, checkpointDir,
      deadLetterDir = deadLetterDir)
    q.awaitTermination()
  }
}
