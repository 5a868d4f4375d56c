package graft.sources

import graft.schema.ChangeEvent
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StructField}

/** Change-log source/sink adapters and the two single-message transforms
  * the reference applies on the wire (SURVEY.md §2.1).
  *
  * The reference's topology is Debezium → Kafka (schemaless JSON) →
  * sink table. Here the same envelope arrives either from a Kafka topic
  * (prod) or a parquet/json directory (tests); both yield identical
  * DataFrames, so everything downstream is source-agnostic.
  */
object ChangeLog {

  /** Parse schemaless-JSON change messages
    * (`key/value.converter.schemas.enable=false`,
    * `/root/reference/connectors/debezium_configuration.json:28,47`)
    * with the explicit envelope schema — never inferred.
    *
    * The envelope comes out of a one-row `inline` rather than a
    * `select("e.*")` projection: the optimizer pushes a filter on an
    * envelope field (the MV's op filter) below a projection, where it
    * would parse every message a second time, but not below a generator.
    * `schema` is the base envelope unless a schema-evolving reader
    * ([[graft.streaming.SchemaEvolution]]) passes its evolved one.
    */
  def fromJsonValues(raw: DataFrame, valueCol: String = "value",
                     schema: StructType = ChangeEvent.envelopeSchema)
      : DataFrame =
    raw.select(inline(array(from_json(col(valueCol).cast("string"), schema))))

  /** Serialize envelope rows back to JSON wire form (`JsonConverter`,
    * `debezium_configuration.json:14,47`).
    */
  def toJsonValues(events: DataFrame): DataFrame =
    events.select(to_json(struct(events.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** Source options for the Kafka change stream, extracted pure so the
    * wiring is unit-testable without a broker (SourcesWiringSpec): the
    * subscription mirrors the reference's one-topic route
    * (`debezium_configuration.json:50-52` routes to
    * `bookings_changes`) and `startingOffsets=earliest` replays the
    * full retained log on first start — the same "sink consumes from
    * the beginning" posture as the reference's Connect sink.
    */
  def kafkaOptions(bootstrap: String, topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest")

  /** Kafka change-stream source: the prod path
    * (`spark.readStream.format("kafka")`). The harness has no broker
    * (and no connector jar), so tests pin [[kafkaOptions]] and assert
    * resolution proceeds exactly to the DataSource lookup; the file
    * source below produces the identical DataFrame shape for the
    * end-to-end streaming specs.
    */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    fromJsonValues(
      spark.readStream.format("kafka")
        .options(kafkaOptions(bootstrap, topic))
        .load())

  /** Source options for the JDBC snapshot scan, extracted pure for the
    * same reason: the four partition options are what split the read
    * across executors — getting them wrong silently serializes a
    * 100 GB table pull through one connection, so they are pinned by
    * unit test rather than trusted to an untestable connect path.
    */
  def jdbcOptions(url: String, table: String,
                  partitionColumn: Option[(String, Long, Long, Int)] = None)
      : Map[String, String] =
    Map("url" -> url, "dbtable" -> table) ++
      partitionColumn.map { case (c, lo, hi, n) =>
        Map(
          "partitionColumn" -> c,
          "lowerBound" -> lo.toString,
          "upperBound" -> hi.toString,
          "numPartitions" -> n.toString)
      }.getOrElse(Map.empty)

  /** JDBC snapshot scan — the prod form of the reference's one-shot
    * `postgresql()` pull (`/root/reference/README.md:156-168`), used for
    * the initial backfill (stamp `version=1` downstream via
    * `VersionedUpsert.backfill`). `partitionColumn`/bounds split the
    * read across executors. No database exists in the harness; tests
    * pin [[jdbcOptions]] and the connect-boundary failure, and use the
    * parquet path for behavior.
    */
  def jdbcSnapshot(spark: SparkSession, url: String, table: String,
                   props: java.util.Properties,
                   partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.read.format("jdbc")
      .options(jdbcOptions(url, table, partitionColumn))
      .options(props.asScala.map { case (k, v) =>
        k.toString -> v.toString }.toMap)
      .load()
  }

  /** File-based change-log stream (tests / file-landed CDC). */
  def fileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(ChangeEvent.envelopeSchema).parquet(dir)

  /** RegexRouter SMT (`debezium_configuration.json:50-52`,
    * `README.md:258-260`): topic `sql_topic.public.<t>` → sink table
    * `<t>_changes`.
    */
  def routeTopic(topic: String): String =
    "^sql_topic\\.public\\.(.*)$".r
      .replaceAllIn(topic, m => s"${m.group(1)}_changes")

  /** Column form of the router, for streams carrying a `topic` column. */
  def routeTopicCol(topic: Column): Column =
    regexp_replace(topic, "^sql_topic\\.public\\.(.*)$", "$1_changes")

  /** Flatten SMT (`debezium_configuration.json:48-49`): explode nested
    * structs to dotted top-level columns, producing exactly the
    * reference's landing-table shape
    * (`/root/reference/schemas/clickhouse_schemas.sql:17-34`). Generic:
    * recurses over the DataFrame schema.
    */
  def flatten(df: DataFrame, delimiter: String = "."): DataFrame = {
    def paths(schema: StructType, prefix: Seq[String]): Seq[(Seq[String], String)] =
      schema.fields.toIndexedSeq.flatMap {
        case StructField(name, st: StructType, _, _) => paths(st, prefix :+ name)
        case StructField(name, _, _, _) =>
          Seq((prefix :+ name, (prefix :+ name).mkString(delimiter)))
      }
    val out = paths(df.schema, Nil).map { case (path, alias) =>
      path.foldLeft(Option.empty[Column]) {
        case (None, p)    => Some(col(s"`${p.replace("`", "``")}`"))
        case (Some(c), p) => Some(c.getField(p))
      }.get.as(alias)
    }
    df.select(out: _*)
  }

  /** Inverse of [[flatten]] for the envelope: dotted landing-table shape
    * back to nested structs (what the MV transform consumes).
    */
  def nestEnvelope(flat: DataFrame, delimiter: String = "."): DataFrame = {
    def field(name: String) = col(s"`$name`")
    def image(p: String): Column = struct(
      field(s"$p${delimiter}id").as("id"),
      field(s"$p${delimiter}booking_id").as("booking_id"),
      field(s"$p${delimiter}status").as("status"),
      field(s"$p${delimiter}is_deleted").as("is_deleted"),
      field(s"$p${delimiter}is_canceled").as("is_canceled"),
      field(s"$p${delimiter}created_at").as("created_at"),
      field(s"$p${delimiter}modified_at").as("modified_at"))
    flat.select(
      image("before").as("before"),
      image("after").as("after"),
      struct(field(s"source${delimiter}sequence").as("sequence"),
        field(s"source${delimiter}lsn").as("lsn")).as("source"),
      col("op"), col("ts_ms"))
  }
}
