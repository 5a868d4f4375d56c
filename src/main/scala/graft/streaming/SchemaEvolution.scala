package graft.streaming

import graft.operators.MvTransform
import graft.schema.ChangeEvent
import graft.sources.ChangeLog
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.StandardOpenOption.{APPEND, CREATE}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** T7 SCHEMA EVOLUTION: apply mid-stream DDL instead of quarantining it.
  *
  * The reference forwards DDL events into the stream
  * (`include.schema.changes=true`,
  * `/root/reference/connectors/debezium_configuration.json:27`); its
  * ClickHouse landing tables are declared once, so a new source column
  * silently vanishes until an operator alters the sink. Here the wire is
  * schemaless JSON (`schemas.enable=false`), so the only schema that
  * matters is the one handed to `from_json`: a DDL envelope arriving
  * mid-stream evolves that parse schema for every later micro-batch,
  * [[MvTransform]] projects the extra image fields through to the upsert
  * log, and [[readEvolvedLog]] surfaces them with older rows backfilled.
  *
  * Safe CDC subset ONLY, never a history rewrite: ADD COLUMN widens the
  * images; COLUMN RENAME is a journaled ALIAS MAP (post-rename rows land
  * under the new name, FINAL reads `coalesce(new, old)`); ALTER TYPE
  * along the safe lattice ([[isWiden]]) is a journaled CAST MAP (FINAL
  * reads cast history up). Everything else dead-letters: drops, table
  * renames, narrowing changes, and renames or type changes of the base
  * columns the compiled MV projection owns.
  *
  * Applied DDL lands in one schema journal (`schemaDir`: `adds.tsv`,
  * `renames.tsv`, `widens.tsv`), control-plane state like the checkpoint;
  * the writer's parse schema and [[evolvedLogSchema]] both come from one
  * fold of it over the base envelope (adds, then renames, then widens).
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
    * rewrite: later rows parse at the wider type and FINAL reads cast
    * history up (the parquet reader upcasts int16/int32→int64 and
    * float→double under an explicit read schema — probed on Spark 4.1).
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

  // DDL grammar pieces, one capture group each: the `ALTER TABLE t` head
  // (the table), an optionally quoted column name, a type name
  private val alterTable = """(?is)ALTER\s+TABLE\s+(?:ONLY\s+)?([\w.]+)\s+"""
  private val columnName = """"?([A-Za-z_][A-Za-z0-9_]*)"?"""
  private val pgType = """([A-Za-z][A-Za-z0-9 ]*(?:\(\d+(?:,\s*\d+)?\))?)"""

  private val addColumnRe = (alterTable + "(.*)").r
  private val addClauseRe = ("""(?is)\s*ADD\s+(?:COLUMN\s+)?""" +
    """(?:IF\s+NOT\s+EXISTS\s+)?""" + columnName + """\s+""" + pgType + ".*").r

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

  private val widenRe = (alterTable + """ALTER\s+(?:COLUMN\s+)?""" + columnName +
    """\s+(?:SET\s+DATA\s+)?TYPE\s+""" + pgType + ".*").r

  /** Extract a column type change from one DDL statement (`ALTER TABLE t
    * ALTER [COLUMN] c [SET DATA] TYPE x`). Whether it is a safe widening
    * is decided against the evolved schema at arrival time, not here.
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
    mapImages(base)(img => widens.foldLeft(img) { (s, wd) =>
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
    })
  }

  private val renameRe = (alterTable + """RENAME\s+(?:COLUMN\s+)?""" + columnName +
    """\s+TO\s+""" + columnName + """\s*""").r

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
                    renames: Seq[ColumnRename]): StructType =
    mapImages(base)(img => renames.foldLeft(img) { (s, r) =>
      s.fields.find(_.name == r.from) match {
        case Some(f) if !s.fieldNames.contains(r.to) =>
          s.add(StructField(r.to, f.dataType))
        case _ => s
      }
    })

  /** Widen both row images with the adds (append-only; an add whose
    * name already exists is ignored — re-delivered DDL must be
    * idempotent under at-least-once).
    */
  def evolveEnvelope(base: StructType, adds: Seq[ColumnAdd]): StructType =
    mapImages(base)(img => adds.foldLeft(img) { (s, a) =>
      if (s.fieldNames.contains(a.column)) s
      else s.add(StructField(a.column, a.dataType))
    })

  /** Rewrite the `before` and `after` images of an envelope schema. */
  private def mapImages(base: StructType)(
      f: StructType => StructType): StructType =
    StructType(base.fields.map {
      case StructField(n @ ("before" | "after"), img: StructType, nl, m) =>
        StructField(n, f(img), nl, m)
      case fld => fld
    })

  /** The schema journal: one tab-separated file per DDL class
    * ([[Journal.files]]), one line per applied change, in applied order
    * (rename chains resolve and later widens supersede earlier ones by
    * fold order). Types are stored as `DataType.sql`.
    */
  private case class Journal(adds: Seq[ColumnAdd],
                             renames: Seq[ColumnRename],
                             widens: Seq[ColumnWiden]) {

    /** The parse schema: the base envelope folded through the adds,
      * then the renames, then the widens.
      */
    def envelope: StructType = evolveWidens(evolveRenames(
      evolveEnvelope(ChangeEvent.envelopeSchema, adds), renames),
      widens, renames)

    private def afterImage: StructType =
      envelope("after").dataType.asInstanceOf[StructType]

    /** Fold one micro-batch's DDL into the journal in three passes —
      * adds, renames, widens — each checking a statement against the
      * journal as evolved SO FAR, so a re-delivered statement (same or
      * later batch) is recognized, not re-journaled. A statement is
      * applied iff every change it parses to is journaled; the rest
      * dead-letter. Returns the evolved journal and the applied DDL.
      */
    def evolve(ddls: Seq[String]): (Journal, Set[String]) = {
      var cur = this
      def pass[A](parse: String => Seq[A], seen: A => Boolean,
                  admits: A => Boolean, record: A => Journal): Seq[String] =
        ddls.filter { d =>
          val changes = parse(d)
          changes.nonEmpty && changes.forall(c =>
            seen(c) || (admits(c) && { cur = record(c); true }))
        }
      def owned(c: String) = MvTransform.baseImageFields(c)
      val applied =
        pass[ColumnAdd](parseAdds, a => cur.adds.exists(_.column == a.column),
          _ => true, a => cur.copy(adds = cur.adds :+ a)) ++
        // the source must resolve and not be a base column; the
        // target must be fresh
        pass[ColumnRename](parseRenames, r => cur.renames.contains(r), { r =>
          val cols = cur.afterImage.fieldNames
          !owned(r.from) && cols.contains(r.from) && !cols.contains(r.to)
        }, r => cur.copy(renames = cur.renames :+ r)) ++
        // an evolved column, moving along the safe widening lattice
        pass[ColumnWiden](parseWidens, wd => cur.widens.contains(wd), wd =>
          !owned(wd.column) && cur.afterImage.fields.exists(f =>
            f.name == wd.column && isWiden(f.dataType, wd.to)),
          wd => cur.copy(widens = cur.widens :+ wd))
      (cur, applied.toSet)
    }

    /** Append the entries this journal holds beyond `prior`. */
    def appendSince(prior: Journal, schemaDir: String): Unit =
      Journal.files.zip(Seq(adds.drop(prior.adds.size),
        renames.drop(prior.renames.size), widens.drop(prior.widens.size)))
        .foreach { case (name, rows) =>
          if (rows.nonEmpty) {
            Files.createDirectories(Paths.get(schemaDir))
            Files.write(Paths.get(schemaDir, name), rows.map(_.productIterator
              .map { case t: DataType => t.sql; case v => v }.mkString("\t"))
              .mkString("", "\n", "\n").getBytes(UTF_8), CREATE, APPEND)
          }
        }
  }

  private object Journal {
    val files = Seq("adds.tsv", "renames.tsv", "widens.tsv")

    /** The journal in `schemaDir` (empty on first start). */
    def load(schemaDir: String): Journal = {
      val Seq(adds, renames, widens) = files.map(Paths.get(schemaDir, _))
        .map(p => if (!Files.exists(p)) Nil
          else Files.readAllLines(p, UTF_8).asScala.toSeq
            .filter(_.nonEmpty).map(_.split("\t")))
      Journal(
        adds.map { case Array(t, c, dt) => ColumnAdd(t, c, DataType.fromDDL(dt)) },
        renames.map { case Array(t, from, to) => ColumnRename(t, from, to) },
        widens.map { case Array(t, c, dt) => ColumnWiden(t, c, DataType.fromDDL(dt)) })
    }
  }

  /** The journaled cast map (empty on first start), in applied order. */
  def loadWidenJournal(schemaDir: String): Seq[ColumnWiden] =
    Journal.load(schemaDir).widens

  /** Start the evolving pipeline over a RAW JSON-lines change
    * directory (the schemaless wire form). Per micro-batch:
    *  1. envelopes carrying a `ddl` field fold into the journal in
    *     `schemaDir`; DDL that does not apply dead-letters;
    *  2. data envelopes parse under the evolved schema and append to
    *     the upsert log (parquet appends tolerate widening);
    *  3. non-data envelopes dead-letter (T7's quarantine half).
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
    var journal = Journal.load(schemaDir)
    CdcPipeline.startBatches(spark.readStream.text(changesDir), checkpointDir,
        trigger) { batch =>
      batch.persist()
      try {
        val probed = batch.select(col("value"),
          from_json(col("value"), probe).as("p"))
        // control plane: tiny by construction (one row per DDL)
        val ddls = probed.filter(col("p.ddl").isNotNull)
          .select("p.ddl").collect().map(_.getString(0)).toSeq
        val (evolved, appliedDdl) = journal.evolve(ddls)
        evolved.appendSince(journal, schemaDir)
        journal = evolved
        val schema = journal.envelope
        val data = probed.filter(col("p.ddl").isNull).select("value")
        val envelope = ChangeLog.fromJsonValues(data, schema = schema)
        MvTransform(envelope).write.mode("append").parquet(bookingsDir)
        deadLetterDir.foreach { dl =>
          // DDL that did not apply, raw wire form
          val nonApplied = probed.filter(col("p.ddl").isNotNull &&
            !col("p.ddl").isInCollection(appliedDdl))
          // LOSSY data rows: an after-image carrying wire fields the
          // evolved schema does not know (e.g. under a REJECTED rename's
          // new name) still lands in the log with its known fields, and
          // a raw copy goes to the dead letter so the per-row loss is
          // observable. This map-parse runs only with a dead letter.
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
          MvTransform.droppedEnvelopes(envelope)
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
    * DERIVED: the evolved envelope through the same [[MvTransform]] the
    * writer runs, so the read schema cannot drift from the write path.
    * FINAL reads need it because a widened log holds files at BOTH the
    * narrow and the wide type — `mergeSchema` refuses that mix, while an
    * explicit read schema upcasts old files (and null-fills new columns).
    */
  def evolvedLogSchema(spark: SparkSession, schemaDir: String): StructType =
    MvTransform(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      Journal.load(schemaDir).envelope)).schema

  /** FINAL read with the journaled alias map applied: for each rename
    * a→b (journal order, so chains resolve), history rows that carry
    * only `a` BACKFILL under `b` via `coalesce(b, a)` and the old name
    * drops from the surface — the log itself is never rewritten. Reads
    * under [[evolvedLogSchema]], so pre-widen history surfaces CAST UP:
    * as if history had always used the new name and the wide type.
    */
  def readEvolvedLog(spark: SparkSession, bookingsDir: String,
                     schemaDir: String): DataFrame =
    Journal.load(schemaDir).renames.foldLeft(
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
