package graft.schema

import org.apache.spark.sql.types._

/** The CDC change-event envelope and the upsert-table row shape.
  *
  * Mirrors the reference's Debezium envelope landed in the change-log
  * table (`/root/reference/schemas/clickhouse_schemas.sql:15-37`) and the
  * versioned upsert table (`:1-13`). The reference flattens the envelope
  * to dotted top-level keys via a Flatten SMT
  * (`/root/reference/connectors/debezium_configuration.json:48-49`); here
  * we keep the *nested* struct form as the canonical shape — idiomatic
  * for Spark, where struct field access (`col("before.booking_id")`) is
  * free — and provide [[graft.sources.ChangeLog.flatten]] for the dotted form.
  *
  * Timestamps inside `before`/`after` are epoch-MICROSECOND Int64, as
  * Debezium emits PG `TIMESTAMP` columns
  * (`/root/reference/schemas/clickhouse_schemas.sql:22-23,29-30`); they
  * are converted exactly once, in the MV transform, via
  * `timestamp_micros` (the reference's `fromUnixTimestamp64Micro`,
  * `:54-55`).
  */
object ChangeEvent {

  /** Full row image (REPLICA IDENTITY FULL ⇒ deletes carry a complete
    * `before`, `/root/reference/README.md:26-30`). `created_at` /
    * `modified_at` are epoch-µs.
    */
  case class Image(
      id: java.lang.Long,
      booking_id: String,
      status: String,
      is_deleted: java.lang.Integer,
      is_canceled: java.lang.Boolean,
      created_at: java.lang.Long,
      modified_at: java.lang.Long)

  /** Replication-source metadata; `lsn` is the monotonically increasing
    * version used by the argmax collapse
    * (`/root/reference/schemas/clickhouse_schemas.sql:56`).
    */
  case class Source(sequence: String, lsn: Long)

  /** One change event. `op` ∈ c (insert), r (snapshot read), u (update),
    * d (delete) — `/root/reference/README.md:96-98`.
    */
  case class Event(
      before: Image,
      after: Image,
      source: Source,
      op: String,
      ts_ms: Long)

  private val imageType: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("booking_id", StringType),
    StructField("status", StringType),
    StructField("is_deleted", IntegerType),
    StructField("is_canceled", BooleanType),
    StructField("created_at", LongType),
    StructField("modified_at", LongType)))

  /** Explicit envelope schema. The Kafka layer is schemaless JSON
    * (`schemas.enable=false` in both connector configs), so readers MUST
    * pass this to `from_json` — never infer (SURVEY.md §1.2).
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("before", imageType),
    StructField("after", imageType),
    StructField("source", StructType(Seq(
      StructField("sequence", StringType),
      StructField("lsn", LongType)))),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Upsert-table row (`bookings`,
    * `/root/reference/schemas/clickhouse_schemas.sql:1-13`): key =
    * booking_id, latest = max version, dropped when the winning row has
    * is_deleted=1.
    */
  case class Booking(
      booking_id: String,
      status: String,
      is_deleted: Int,
      is_canceled: Boolean,
      created_at: java.sql.Timestamp,
      modified_at: java.sql.Timestamp,
      version: Long)
}
