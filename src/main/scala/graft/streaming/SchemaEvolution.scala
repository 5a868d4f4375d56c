package graft.streaming

import graft.operators.MvTransform
import graft.schema.ChangeEvent
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** T7 ADDITIVE SCHEMA EVOLUTION: apply mid-stream `ALTER TABLE … ADD
  * COLUMN` instead of quarantining it.
  *
  * The reference forwards DDL events into the stream
  * (`include.schema.changes=true`,
  * `/root/reference/connectors/debezium_configuration.json:27`); its
  * ClickHouse landing tables are declared once, so a new source column
  * silently vanishes until an operator alters the sink. This engine
  * does better: the wire is schemaless JSON
  * (`schemas.enable=false`), so the only schema that matters is the
  * one handed to `from_json` — a DDL envelope arriving mid-stream
  * widens that parse schema for every later micro-batch, the MV
  * transform projects the new image fields through to the upsert log,
  * parquet appends the wider rows, and a FINAL read under
  * `mergeSchema` surfaces the column with pre-DDL rows null-backfilled.
  *
  * Safe CDC subset ONLY: ADD COLUMN widens, and COLUMN RENAME (the
  * next most common Debezium DDL event) applies via a journaled ALIAS
  * MAP — the log is never rewritten; post-rename rows land under the
  * new name and [[readEvolvedLog]] unifies history with
  * `coalesce(new, old)` so pre-rename rows backfill under the new
  * name. Drops/type changes still dead-letter (they cannot be applied
  * without rewriting history), as do renames of the BASE envelope
  * columns (the compiled MV projection owns those names) and renames
  * whose source column is unknown. Applied DDL is journaled to a
  * tiny `_schema` directory so a restarted stream re-parses with the
  * evolved schema, not the compiled-in base — the schema journal is
  * control-plane state exactly like the checkpoint.
  *
  * Ordering: Debezium emits the DDL event before any data event that
  * uses the new column, and micro-batches preserve file order, so
  * folding the batch's DDL into the schema BEFORE parsing the batch's
  * data rows never drops a value.
  */
object SchemaEvolution {

  /** One additive column change. */
  case class ColumnAdd(table: String, column: String, dataType: DataType)

  /** One column rename — an alias-map entry, never a history rewrite. */
  case class ColumnRename(table: String, from: String, to: String)

  /** One type widening — a journaled cast-map entry, never a history
    * rewrite: post-widen rows parse and append at the wider type, and
    * the FINAL read casts pre-widen history UP by reading the whole log
    * under the widened schema (Spark's parquet reader upcasts
    * int16/int32→int64 and float→double natively under an explicit
    * read schema — probed on 4.1).
    */
  case class ColumnWiden(table: String, column: String, to: DataType)

  /** PostgreSQL type name → the Spark type Debezium's JSON wire carries
    * for it. Timestamps are epoch-µs Int64 on the wire
    * (`/root/reference/schemas/clickhouse_schemas.sql:22-23`) — they
    * stay Long here; converting is the MV transform's business for
    * columns it knows, and downstream's for evolved ones.
    */
  def pgWireType(t: String): DataType = {
    val n = t.trim.toLowerCase.replaceAll("\\s+", " ")
    if (n.startsWith("varchar") || n.startsWith("character varying") ||
      n == "text" || n == "char" || n.startsWith("character")) StringType
    else if (n == "smallint" || n == "int2") ShortType
    else if (n == "int" || n == "integer" || n == "int4" || n == "serial")
      IntegerType
    else if (n == "bigint" || n == "int8" || n == "bigserial") LongType
    else if (n == "boolean" || n == "bool") BooleanType
    else if (n == "real" || n == "float4") FloatType
    else if (n == "double precision" || n == "float8") DoubleType
    else if (n.startsWith("timestamp")) LongType // epoch-µs wire form
    else if (n.startsWith("numeric") || n.startsWith("decimal")) StringType
    else StringType // unmodeled types land as their JSON string form
  }

  private val addColumnRe =
    """(?is)ALTER\s+TABLE\s+(?:ONLY\s+)?([\w.]+)\s+(.*)""".r
  private val addClauseRe =
    """(?is)\s*ADD\s+(?:COLUMN\s+)?(?:IF\s+NOT\s+EXISTS\s+)?"?([A-Za-z_][A-Za-z0-9_]*)"?\s+([A-Za-z][A-Za-z0-9 ]*(?:\(\d+(?:,\s*\d+)?\))?).*""".r

  /** Extract the additive column changes from one DDL statement.
    * Non-ADD clauses (DROP/RENAME/ALTER TYPE) yield nothing — callers
    * dead-letter the envelope instead.
    */
  def parseAdds(ddl: String): Seq[ColumnAdd] = ddl match {
    case addColumnRe(table, clauses) =>
      clauses.split(",").toIndexedSeq.flatMap {
        case addClauseRe(col, typ) =>
          Some(ColumnAdd(table.toLowerCase, col.toLowerCase,
            pgWireType(typ.trim)))
        case _ => None
      }
    case _ => Nil
  }

  private val widenRe =
    """(?is)ALTER\s+TABLE\s+(?:ONLY\s+)?([\w.]+)\s+ALTER\s+(?:COLUMN\s+)?"?([A-Za-z_][A-Za-z0-9_]*)"?\s+(?:SET\s+DATA\s+)?TYPE\s+([A-Za-z][A-Za-z0-9 ]*(?:\(\d+(?:,\s*\d+)?\))?).*""".r

  /** Extract a column type change from one DDL statement (`ALTER TABLE t
    * ALTER [COLUMN] c [SET DATA] TYPE x` — the next most common Debezium
    * DDL class after ADD/RENAME). Whether the change is a safe WIDENING
    * (vs a narrowing/change that must dead-letter) is decided against
    * the evolved schema at arrival time, not here.
    */
  def parseWidens(ddl: String): Seq[ColumnWiden] = ddl match {
    case widenRe(table, col, typ) =>
      Seq(ColumnWiden(table.toLowerCase, col.toLowerCase,
        pgWireType(typ.trim)))
    case _ => Nil
  }

  /** The safe widening lattice on WIRE types: integral up
    * (short→int→long), fractional up (float→double), small-integral →
    * double (lossless to 2⁵³ by construction), and SAME TYPE (covers
    * `varchar(50)→varchar(200)` and `numeric(p,s)` precision widens —
    * Debezium's precise-decimal wire form is a string, so the wire type
    * does not move; the DDL is journaled for idempotence and applies as
    * a schema no-op). long→double is NOT a widen (lossy past 2⁵³), nor
    * is anything downward.
    */
  def isWiden(from: DataType, to: DataType): Boolean = {
    def irank(t: DataType): Int = t match {
      case ShortType => 1; case IntegerType => 2; case LongType => 3
      case _ => -1
    }
    (from, to) match {
      case (a, b) if a == b => true
      case (a, b) if irank(a) > 0 && irank(b) > 0 => irank(b) >= irank(a)
      case (FloatType, DoubleType) => true
      case (ShortType | IntegerType | FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Apply journaled widens to both images. A widen whose column was
    * later renamed resolves THROUGH the rename map (the DDL named the
    * column as it was called at arrival time; the schema carries the
    * current name).
    */
  def evolveWidens(base: StructType, widens: Seq[ColumnWiden],
                   renames: Seq[ColumnRename] = Nil): StructType = {
    def resolve(c: String): String =
      renames.foldLeft(c)((n, r) => if (r.from == n) r.to else n)
    def widenImg(img: StructType): StructType =
      widens.foldLeft(img) { (s, wd) =>
        // widen the arrival-time name AND its rename resolution: both
        // can coexist in the image (a rename keeps the source field so
        // pre-rename rows still parse), and rows land under whichever
        // name was current when they were written
        val targets = Set(wd.column, resolve(wd.column))
        StructType(s.fields.map {
          case StructField(n, _, nl, m) if targets(n) =>
            StructField(n, wd.to, nl, m)
          case f => f
        })
      }
    StructType(base.fields.map {
      case StructField(n @ ("before" | "after"), img: StructType, nl, m) =>
        StructField(n, widenImg(img), nl, m)
      case f => f
    })
  }

  private val renameRe =
    """(?is)ALTER\s+TABLE\s+(?:ONLY\s+)?([\w.]+)\s+RENAME\s+(?:COLUMN\s+)?"?([A-Za-z_][A-Za-z0-9_]*)"?\s+TO\s+"?([A-Za-z_][A-Za-z0-9_]*)"?\s*""".r

  /** Extract a column rename from one DDL statement. Table renames
    * (`RENAME TO x` — no column between RENAME and TO) and other
    * RENAME forms don't match and so dead-letter.
    */
  def parseRenames(ddl: String): Seq[ColumnRename] = ddl match {
    case renameRe(table, from, to) =>
      Seq(ColumnRename(table.toLowerCase, from.toLowerCase, to.toLowerCase))
    case _ => Nil
  }

  /** Widen both images with each rename's TARGET column, carrying the
    * SOURCE column's type (the wire starts emitting the new name after
    * the DDL; the old field stays so pre-rename rows in the same batch
    * and restart replays still parse). Applied in journal order so
    * rename chains (a→b, later b→c) resolve.
    */
  def evolveRenames(base: StructType,
                    renames: Seq[ColumnRename]): StructType = {
    def widen(img: StructType): StructType =
      renames.foldLeft(img) { (s, r) =>
        s.fields.find(_.name == r.from) match {
          case Some(f) if !s.fieldNames.contains(r.to) =>
            s.add(StructField(r.to, f.dataType))
          case _ => s
        }
      }
    StructType(base.fields.map {
      case StructField(n @ ("before" | "after"), img: StructType, nl, m) =>
        StructField(n, widen(img), nl, m)
      case f => f
    })
  }

  /** Widen both row images with the adds (append-only; an add whose
    * name already exists is ignored — re-delivered DDL must be
    * idempotent under at-least-once).
    */
  def evolveEnvelope(base: StructType, adds: Seq[ColumnAdd]): StructType = {
    def widen(img: StructType): StructType =
      adds.foldLeft(img) { (s, a) =>
        if (s.fieldNames.contains(a.column)) s
        else s.add(StructField(a.column, a.dataType))
      }
    StructType(base.fields.map {
      case StructField(n @ ("before" | "after"), img: StructType, nl, m) =>
        StructField(n, widen(img), nl, m)
      case f => f
    })
  }

  /** The evolved MV transform: the base Booking projection plus a
    * delete-aware `pick` of every after-image field beyond the base
    * envelope — new columns flow to the upsert log as their wire type.
    */
  def applyEvolved(changes: DataFrame): DataFrame = {
    val baseFields = ChangeEvent.envelopeSchema("after")
      .dataType.asInstanceOf[StructType].fieldNames.toSet
    val afterFields = changes.schema("after")
      .dataType.asInstanceOf[StructType].fieldNames.toSeq
    val isDelete = col("op") === "d"
    def pick(field: String): Column =
      when(isDelete, col(s"before.$field")).otherwise(col(s"after.$field"))
    val extras = afterFields.filterNot(baseFields)
      .map(f => pick(f).as(f))
    val base = Seq(
      pick("booking_id").as("booking_id"),
      pick("status").as("status"),
      when(isDelete, lit(1)).otherwise(lit(0)).as("is_deleted"),
      pick("is_canceled").as("is_canceled"),
      timestamp_micros(pick("created_at")).as("created_at"),
      timestamp_micros(pick("modified_at")).as("modified_at"),
      col("source.lsn").as("version"))
    changes.filter(col("op").isin(MvTransform.dataOps: _*))
      .select(base ++ extras: _*)
  }

  // ---- schema journal (control-plane state, like the checkpoint) ----

  private def journalFile(schemaDir: String) =
    new java.io.File(schemaDir, "adds.tsv")

  /** Load journaled adds (empty on first start). */
  def loadJournal(schemaDir: String): Seq[ColumnAdd] = {
    val f = journalFile(schemaDir)
    if (!f.exists()) Nil
    else scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty)
      .map { l =>
        val Array(t, c, dt) = l.split("\t")
        ColumnAdd(t, c, DataType.fromDDL(dt))
      }.toSeq
  }

  private def appendJournal(schemaDir: String, adds: Seq[ColumnAdd]): Unit =
    if (adds.nonEmpty) {
      val f = journalFile(schemaDir)
      f.getParentFile.mkdirs()
      val w = new java.io.FileWriter(f, true)
      try adds.foreach(a =>
        w.write(s"${a.table}\t${a.column}\t${a.dataType.sql}\n"))
      finally w.close()
    }

  private def renameJournalFile(schemaDir: String) =
    new java.io.File(schemaDir, "renames.tsv")

  /** Load the journaled alias map (empty on first start), in applied
    * order — order matters for rename chains.
    */
  def loadRenameJournal(schemaDir: String): Seq[ColumnRename] = {
    val f = renameJournalFile(schemaDir)
    if (!f.exists()) Nil
    else scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty)
      .map { l =>
        val Array(t, from, to) = l.split("\t")
        ColumnRename(t, from, to)
      }.toSeq
  }

  private def appendRenameJournal(schemaDir: String,
                                  renames: Seq[ColumnRename]): Unit =
    if (renames.nonEmpty) {
      val f = renameJournalFile(schemaDir)
      f.getParentFile.mkdirs()
      val w = new java.io.FileWriter(f, true)
      try renames.foreach(r => w.write(s"${r.table}\t${r.from}\t${r.to}\n"))
      finally w.close()
    }

  private def widenJournalFile(schemaDir: String) =
    new java.io.File(schemaDir, "widens.tsv")

  /** Load the journaled cast map (empty on first start), in applied
    * order — later widens of the same column supersede earlier ones
    * by fold order.
    */
  def loadWidenJournal(schemaDir: String): Seq[ColumnWiden] = {
    val f = widenJournalFile(schemaDir)
    if (!f.exists()) Nil
    else scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty)
      .map { l =>
        val Array(t, c, dt) = l.split("\t")
        ColumnWiden(t, c, DataType.fromDDL(dt))
      }.toSeq
  }

  private def appendWidenJournal(schemaDir: String,
                                 widens: Seq[ColumnWiden]): Unit =
    if (widens.nonEmpty) {
      val f = widenJournalFile(schemaDir)
      f.getParentFile.mkdirs()
      val w = new java.io.FileWriter(f, true)
      try widens.foreach(wd =>
        w.write(s"${wd.table}\t${wd.column}\t${wd.to.sql}\n"))
      finally w.close()
    }

  /** Start the evolving pipeline over a RAW JSON-lines change
    * directory (the schemaless wire form). Per micro-batch:
    *  1. envelopes carrying a `ddl` field are schema-change events —
    *     their additive clauses widen the parse schema (journaled to
    *     `schemaDir`); non-additive DDL dead-letters;
    *  2. data envelopes re-parse under the evolved schema and append
    *     to the upsert log (parquet appends tolerate widening);
    *  3. remaining non-data envelopes dead-letter as before (T7's
    *     quarantine half).
    * FINAL reads go through [[readEvolvedLog]].
    */
  def start(
      spark: SparkSession,
      changesDir: String,
      bookingsDir: String,
      checkpointDir: String,
      schemaDir: String,
      deadLetterDir: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // the DDL probe schema: just enough to split control from data
    val probe = StructType(Seq(
      StructField("op", StringType), StructField("ddl", StringType)))
    val baseAfterFields = ChangeEvent.envelopeSchema("after")
      .dataType.asInstanceOf[StructType].fieldNames.toSet
    var adds = loadJournal(schemaDir)
    var renames = loadRenameJournal(schemaDir)
    var widens = loadWidenJournal(schemaDir)
    CdcPipeline.startBatches(spark.readStream.text(changesDir), checkpointDir,
        trigger) { batch =>
      batch.persist()
      try {
        val probed = batch.select(col("value"),
          from_json(col("value"), probe).as("p"))
        // control plane: tiny by construction (one row per DDL)
        val ddls = probed.filter(col("p.ddl").isNotNull)
          .select("p.ddl").collect().map(_.getString(0)).toSeq
        val newAdds = ddls.flatMap(parseAdds)
          .filterNot(a => adds.exists(_.column == a.column))
        appendJournal(schemaDir, newAdds)
        adds = adds ++ newAdds
        // rename applicability, in arrival order against the image
        // as evolved SO FAR: source must resolve and not be a base
        // projection column; target must be fresh. A re-delivered
        // rename is recognized (idempotent), not re-applied.
        var afterCols = baseAfterFields ++ adds.map(_.column) ++
          renames.map(_.to)
        val newRenames = ddls.flatMap(parseRenames).flatMap { r =>
          if (renames.contains(r)) None // at-least-once re-delivery
          else if (!baseAfterFields.contains(r.from) &&
            afterCols.contains(r.from) && !afterCols.contains(r.to)) {
            afterCols += r.to
            Some(r)
          } else None
        }
        appendRenameJournal(schemaDir, newRenames)
        renames = renames ++ newRenames
        // widen applicability, against the image as evolved so far:
        // the column must be an EVOLVED one (adds/renames own their
        // types; the compiled MV projection owns the base columns —
        // base-column type changes dead-letter), and the current
        // wire type → target must sit on the safe widening lattice.
        // A re-delivered widen is recognized, not re-journaled.
        val newWidens = ddls.flatMap(parseWidens).flatMap { wd =>
          if (widens.contains(wd)) None // at-least-once re-delivery
          else {
            val curImg = evolveWidens(evolveRenames(
              evolveEnvelope(ChangeEvent.envelopeSchema, adds), renames),
              widens, renames)("after").dataType.asInstanceOf[StructType]
            curImg.fields.find(_.name == wd.column) match {
              case Some(f) if !baseAfterFields.contains(wd.column) &&
                isWiden(f.dataType, wd.to) => Some(wd)
              case _ => None // narrowing/base/unknown → dead-letter
            }
          }
        }
        appendWidenJournal(schemaDir, newWidens)
        widens = widens ++ newWidens
        val schema = evolveWidens(evolveRenames(
          evolveEnvelope(ChangeEvent.envelopeSchema, adds), renames),
          widens, renames)
        val data = probed.filter(col("p.ddl").isNull)
          .select(from_json(col("value"), schema).as("e"),
            col("value"))
        applyEvolved(data.select("e.*"))
          .write.mode("append").parquet(bookingsDir)
        deadLetterDir.foreach { dl =>
          // unapplied DDL (drops, table renames, base-column or
          // unresolvable renames, narrowing type changes) +
          // heartbeats/unknown ops, raw wire form. A DDL is applied
          // iff it yielded an add or a journaled rename/widen
          // (re-deliveries count).
          val appliedDdl = (ddls.filter(d => parseAdds(d).nonEmpty) ++
            ddls.filter(d => parseRenames(d).exists(renames.contains)) ++
            ddls.filter(d => parseWidens(d).exists(widens.contains)))
            .toSet
          val nonApplied =
            if (appliedDdl.isEmpty) probed.filter(col("p.ddl").isNotNull)
            else probed.filter(col("p.ddl").isNotNull &&
              !col("p.ddl").isInCollection(appliedDdl))
          // LOSSY data rows: an after-image carrying wire fields the
          // evolved schema does not know (e.g. rows arriving under a
          // REJECTED rename's new name) would otherwise lose those
          // values silently — the row still lands in the log (its
          // known fields parse fine; diverting it would lose MORE),
          // but a raw copy goes to the dead letter so the loss is
          // observable per row, not just inferable from a rejected
          // DDL. The extra map-parse runs only when a dead letter is
          // configured.
          val knownAfter = schema("after").dataType
            .asInstanceOf[StructType].fieldNames
          val lossy = data
            .withColumn("__m", from_json(get_json_object(col("value"),
              "$.after"), MapType(StringType, StringType)))
            .filter(col("__m").isNotNull &&
              size(map_keys(col("__m"))) >
                size(array_intersect(map_keys(col("__m")),
                  typedLit(knownAfter.toSeq))))
            .select(col("value"))
          MvTransform.droppedEnvelopes(data.select("e.*"))
            .select(to_json(struct(col("*"))).as("value"))
            .unionByName(nonApplied.select("value"))
            .unionByName(lossy)
            .write.mode("append").text(dl)
        }
      } finally batch.unpersist()
    }
  }

  /** FINAL read over an evolved log: schema union across files, so
    * rows written before an ADD COLUMN surface the column as null.
    */
  def readEvolvedLog(spark: SparkSession, bookingsDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(bookingsDir)

  /** The upsert log's expected schema under the journaled evolution —
    * DERIVED, not declared: the evolved envelope is pushed through the
    * same [[applyEvolved]] projection the writer runs, so the read
    * schema can never drift from the write path. Used for FINAL reads
    * because a widened log holds files at BOTH the narrow and the wide
    * physical type — parquet `mergeSchema` refuses that mix, while an
    * explicit read schema upcasts old files natively (and null-fills
    * columns added after a file was written).
    */
  def evolvedLogSchema(spark: SparkSession, schemaDir: String): StructType = {
    val adds = loadJournal(schemaDir)
    val renames = loadRenameJournal(schemaDir)
    val widens = loadWidenJournal(schemaDir)
    val envelope = evolveWidens(evolveRenames(
      evolveEnvelope(ChangeEvent.envelopeSchema, adds), renames),
      widens, renames)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), envelope)
    applyEvolved(empty).schema
  }

  /** FINAL read with the journaled alias map applied: for each rename
    * a→b (journal order, so chains resolve), history rows that carry
    * only `a` BACKFILL under `b` via `coalesce(b, a)` and the old name
    * drops from the surface — the log itself is never rewritten. Reads
    * under [[evolvedLogSchema]], so pre-widen history rows surface
    * CAST UP to the journaled type (the cast-map half of T7): the read
    * is identical to a log whose history had always used the new name
    * and the wide type.
    */
  def readEvolvedLog(spark: SparkSession, bookingsDir: String,
                     schemaDir: String): DataFrame =
    loadRenameJournal(schemaDir).foldLeft(
      spark.read.schema(evolvedLogSchema(spark, schemaDir))
        .parquet(bookingsDir)) { (d, r) =>
      val cols = d.columns.toSet
      if (cols(r.from) && cols(r.to))
        d.withColumn(r.to, coalesce(col(r.to), col(r.from))).drop(r.from)
      else if (cols(r.from)) d.withColumnRenamed(r.from, r.to)
      else d
    }

  /** Drain all currently-available input synchronously (test helper). */
  def runOnce(
      spark: SparkSession,
      changesDir: String,
      bookingsDir: String,
      checkpointDir: String,
      schemaDir: String,
      deadLetterDir: Option[String] = None): Unit =
    start(spark, changesDir, bookingsDir, checkpointDir, schemaDir,
      deadLetterDir).awaitTermination()
}
