package graft.streaming

import graft.operators.VersionedUpsert.newer
import graft.schema.ChangeEvent.Booking
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Pure-streaming variants of the versioned-upsert collapse — the
  * bounded-state alternative SURVEY.md T4 reserves for when the
  * log+view model's unbounded log is unwanted.
  *
  * [[latestPerKey]] keeps exactly ONE Booking per key in state
  * (`mapGroupsWithState`) and emits the current winner each micro-batch:
  * the streaming analog of `ReplacingMergeTree`'s background merge
  * (`/root/reference/schemas/clickhouse_schemas.sql:11-13`) — state size
  * is O(live keys), independent of change volume, and late/replayed
  * events lose the same deterministic recency order the batch
  * `finalView` uses (version desc, is_deleted desc, modified_at desc).
  *
  * [[windowedEventCounts]] is the watermarked tumbling-window aggregate
  * surface: event-time windows with bounded state, late rows beyond the
  * watermark dropped — Structured Streaming's incremental-MV contract
  * for time-bucketed aggregations (the streaming analog of the
  * cdc_hourly_stats batch query).
  *
  * Scale notes: both operators shuffle once on their grouping key per
  * micro-batch; state lives in the state store (RocksDB-backed on a real
  * cluster), so a 1000-executor job holds 1000 state shards — key
  * cardinality, not event volume, bounds memory.
  */
object StatefulUpsert {

  /** Streaming FINAL: one state entry per booking_id holding the
    * current argmax row; each micro-batch emits the (possibly updated)
    * winner for every key it touched. Use `outputMode("update")`.
    * Tombstones ARE emitted (is_deleted=1) so downstream sinks can
    * propagate deletes; filter them for a FINAL-equivalent table.
    */
  def latestPerKey(upserts: Dataset[Booking]): Dataset[Booking] = {
    implicit val enc = Encoders.product[Booking]
    implicit val senc = Encoders.STRING
    upserts
      .groupByKey(_.booking_id)
      .mapGroupsWithState[Booking, Booking](GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Booking], state: GroupState[Booking]) =>
          var cur = state.getOption.orNull
          rows.foreach { r => if (cur == null || newer(r, cur)) cur = r }
          state.update(cur)
          cur
      }
  }

  /** Bounded-state streaming dedup — SURVEY T4's lighter-weight
    * alternative to [[latestPerKey]] for replay tolerance: drops
    * duplicate (booking_id, version) rows with
    * `dropDuplicatesWithinWatermark`, so an at-least-once upstream
    * (the reference sink's `exactlyOnce=false`,
    * `/root/reference/connectors/clickhouse_sink_configuration.json:13`)
    * becomes exactly-once within the lateness bound. Unlike
    * [[latestPerKey]] (state = one row per LIVE key, forever), state
    * here expires once the watermark on `modified_at` passes
    * `lateness` — bounded by the replay horizon, not key cardinality.
    * Downstream, the batch finalView over the deduped append stream is
    * unchanged (A4 duplicate tolerance makes dedup semantically
    * optional); what this buys is a sink that writes each change once.
    */
  def dedupWithinWatermark(upserts: Dataset[Booking],
                           lateness: String = "10 minutes"): Dataset[Booking] =
    upserts
      .withWatermark("modified_at", lateness)
      .dropDuplicatesWithinWatermark("booking_id", "version")

  /** Streaming sessionization — the pure-streaming form of
    * [[graft.operators.Temporal.sessionize]]: per-user session windows
    * closed by an inactivity gap. `session_window` keeps each event's
    * candidate window [ts, ts+gap) in the state store and merges
    * overlapping windows per key within AND across micro-batches, so a
    * session spanning many batches still lands as one row. The
    * watermark closes a session once event time passes its end +
    * lateness: append mode emits it exactly once and evicts its
    * state — state is O(open sessions), independent of history length.
    */
  def sessionizedEventCounts(events: DataFrame,
                             gap: String = "30 minutes",
                             lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Watermarked tumbling-window counts over an event stream with an
    * event-time `ts` column: 1-hour windows, 2-hour lateness bound.
    * Append mode emits each window once, when the watermark passes it.
    */
  def windowedEventCounts(events: DataFrame,
                          windowLen: String = "1 hour",
                          lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
}
