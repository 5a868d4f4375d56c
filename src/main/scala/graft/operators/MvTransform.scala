package graft.operators

import graft.schema.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The incremental materialized-view transform: change-event envelope →
  * upsert-table rows.
  *
  * Re-expresses the reference's `bookings_mv`
  * (`/root/reference/schemas/clickhouse_schemas.sql:39-58`): a pure
  * SELECT the storage engine runs incrementally over each inserted
  * block. In Spark the same function is applied to a batch DataFrame or,
  * unchanged, to a Structured Streaming micro-batch (the incremental
  * contract is the runtime's, not the transform's).
  *
  * Semantics per column (citations into the reference):
  *  - deletes project the `before` image, everything else `after`
  *    (`clickhouse_schemas.sql:50-56`, REPLICA IDENTITY FULL
  *    `README.md:26-30`);
  *  - `is_deleted` synthesized from `op='d'` (`:52`);
  *  - epoch-µs Int64 → timestamp via `timestamp_micros`, the analog of
  *    `fromUnixTimestamp64Micro` (`:54-55`);
  *  - `version` = `source.lsn` (`:56`);
  *  - non-data messages dropped by the op filter (`:58`).
  *
  * All expressions are built-ins (`when/otherwise`, `isin`,
  * `timestamp_micros`) so the whole transform stays inside whole-stage
  * codegen — one narrow stage, no shuffle, trivially scalable.
  */
object MvTransform {

  val dataOps: Seq[String] = Seq("c", "r", "u", "d")

  /** The complement of the data path: envelopes the op filter drops —
    * schema-change / heartbeat / unknown-op messages (T7). The
    * reference routes DDL events to a history topic
    * (`include.schema.changes=true`,
    * `/root/reference/connectors/debezium_configuration.json:27`);
    * silently discarding them would make the first production ALTER
    * TABLE vanish without a trace, so the pipeline side-outputs these
    * to a dead-letter directory (see
    * [[graft.streaming.CdcPipeline.start]]). Null-safe: a null op is
    * non-data and lands here too.
    */
  def droppedEnvelopes(changes: DataFrame): DataFrame =
    changes.filter(!coalesce(col("op").isin(dataOps: _*), lit(false)))

  /** The base row image's field names: the columns this projection
    * owns, which schema evolution must leave alone.
    */
  private[graft] val baseImageFields: Set[String] =
    ChangeEvent.envelopeSchema("after").dataType.asInstanceOf[StructType]
      .fieldNames.toSet

  /** Envelope rows (nested form, [[graft.schema.ChangeEvent.envelopeSchema]])
    * → upsert rows (Booking shape). An envelope evolved by
    * [[graft.streaming.SchemaEvolution]] carries image fields beyond
    * the base image; each follows the Booking columns, picked the same
    * delete-aware way, at its wire type. On the base envelope there are
    * none.
    */
  def apply(changes: DataFrame): DataFrame = {
    val isDelete = col("op") === "d"
    def pick(field: String) =
      when(isDelete, col(s"before.$field")).otherwise(col(s"after.$field"))
    val extras = changes.schema("after").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq.filterNot(baseImageFields).map(f => pick(f).as(f))

    changes
      .filter(col("op").isin(dataOps: _*))
      .select(Seq(
        pick("booking_id").as("booking_id"),
        pick("status").as("status"),
        when(isDelete, lit(1)).otherwise(lit(0)).as("is_deleted"),
        pick("is_canceled").as("is_canceled"),
        timestamp_micros(pick("created_at")).as("created_at"),
        timestamp_micros(pick("modified_at")).as("modified_at"),
        col("source.lsn").as("version")) ++ extras: _*)
  }
}
