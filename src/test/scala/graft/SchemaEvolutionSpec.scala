package graft

import graft.operators.VersionedUpsert
import graft.sources.{ChangeLog, WorkloadFixture}
import graft.streaming.SchemaEvolution
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** T7 additive schema evolution: an `ALTER TABLE … ADD COLUMN` DDL
  * envelope arriving mid-stream widens the parse schema, later data
  * envelopes carry the new column into the upsert log, and FINAL
  * reads surface it with pre-DDL rows null-backfilled. Non-additive
  * DDL still dead-letters, and the applied schema survives a restart
  * via the journal.
  */
class SchemaEvolutionSpec extends SparkSpec {

  test("pg wire types map to the Debezium JSON shapes") {
    import SchemaEvolution.pgWireType
    assert(pgWireType("text") === StringType)
    assert(pgWireType("VARCHAR(50)") === StringType)
    assert(pgWireType("integer") === IntegerType)
    assert(pgWireType("bigint") === LongType)
    assert(pgWireType("boolean") === BooleanType)
    assert(pgWireType("double precision") === DoubleType)
    assert(pgWireType("timestamp") === LongType) // epoch-µs wire form
    assert(pgWireType("TIMESTAMP WITHOUT TIME ZONE") === LongType)
  }

  test("parseAdds: additive clauses extracted, non-additive DDL yields none") {
    import SchemaEvolution.{parseAdds, ColumnAdd}
    assert(parseAdds("ALTER TABLE public.bookings ADD COLUMN note text") ===
      Seq(ColumnAdd("public.bookings", "note", StringType)))
    assert(parseAdds(
      "ALTER TABLE bookings ADD COLUMN IF NOT EXISTS \"priority\" integer") ===
      Seq(ColumnAdd("bookings", "priority", IntegerType)))
    assert(parseAdds(
      "alter table t add column a bigint, add column b boolean") ===
      Seq(SchemaEvolution.ColumnAdd("t", "a", LongType),
        SchemaEvolution.ColumnAdd("t", "b", BooleanType)))
    assert(parseAdds("ALTER TABLE t DROP COLUMN note") === Nil)
    assert(parseAdds("ALTER TABLE t RENAME COLUMN a TO b") === Nil)
    assert(parseAdds("CREATE INDEX idx ON t(a)") === Nil)
  }

  test("parseRenames: column renames extracted; table renames and drops yield none") {
    import SchemaEvolution.{parseRenames, ColumnRename}
    assert(parseRenames("ALTER TABLE public.bookings RENAME COLUMN note TO vip_note")
      === Seq(ColumnRename("public.bookings", "note", "vip_note")))
    assert(parseRenames("alter table t rename a to b")
      === Seq(ColumnRename("t", "a", "b")))
    assert(parseRenames("ALTER TABLE t RENAME \"OldName\" TO \"NewName\"")
      === Seq(ColumnRename("t", "oldname", "newname")))
    // table rename: no column between RENAME and TO
    assert(parseRenames("ALTER TABLE bookings RENAME TO bookings_v2") === Nil)
    assert(parseRenames("ALTER TABLE t DROP COLUMN note") === Nil)
    assert(parseRenames("ALTER TABLE t ADD COLUMN note text") === Nil)
  }

  test("parseWidens: type changes extracted; other ALTER forms yield none") {
    import SchemaEvolution.{parseWidens, ColumnWiden}
    assert(parseWidens(
      "ALTER TABLE public.bookings ALTER COLUMN priority TYPE bigint") ===
      Seq(ColumnWiden("public.bookings", "priority", LongType)))
    assert(parseWidens(
      "alter table t alter c set data type double precision") ===
      Seq(ColumnWiden("t", "c", DoubleType)))
    assert(parseWidens(
      "ALTER TABLE t ALTER COLUMN \"Amount\" TYPE numeric(20, 4)") ===
      Seq(ColumnWiden("t", "amount", StringType))) // precise-decimal wire
    assert(parseWidens("ALTER TABLE t ADD COLUMN note text") === Nil)
    assert(parseWidens("ALTER TABLE t RENAME COLUMN a TO b") === Nil)
    assert(parseWidens("ALTER TABLE t DROP COLUMN note") === Nil)
  }

  test("isWiden: the safe lattice, and nothing else") {
    import SchemaEvolution.isWiden
    assert(isWiden(ShortType, IntegerType))
    assert(isWiden(ShortType, LongType))
    assert(isWiden(IntegerType, LongType))
    assert(isWiden(FloatType, DoubleType))
    assert(isWiden(IntegerType, DoubleType))
    assert(isWiden(StringType, StringType)) // varchar/decimal widen: no-op
    assert(isWiden(LongType, LongType))
    assert(!isWiden(LongType, IntegerType)) // narrowing
    assert(!isWiden(DoubleType, FloatType))
    assert(!isWiden(LongType, DoubleType)) // lossy past 2^53
    assert(!isWiden(StringType, LongType)) // type change
    assert(!isWiden(LongType, StringType))
    assert(!isWiden(BooleanType, IntegerType))
  }

  test("evolveWidens widens both images and resolves through renames") {
    import graft.schema.ChangeEvent
    val withAdd = SchemaEvolution.evolveEnvelope(ChangeEvent.envelopeSchema,
      Seq(SchemaEvolution.ColumnAdd("t", "priority", IntegerType)))
    val renames = Seq(SchemaEvolution.ColumnRename("t", "priority", "prio"))
    val renamed = SchemaEvolution.evolveRenames(withAdd, renames)
    // the widen arrived under the OLD name; both names must widen
    val widened = SchemaEvolution.evolveWidens(renamed,
      Seq(SchemaEvolution.ColumnWiden("t", "priority", LongType)), renames)
    Seq("before", "after").foreach { img =>
      val st = widened(img).dataType.asInstanceOf[StructType]
      assert(st("priority").dataType === LongType)
      assert(st("prio").dataType === LongType)
    }
    assert(widened("source") === ChangeEvent.envelopeSchema("source"))
  }

  test("evolveRenames widens with the target at the source's type; chains resolve") {
    import graft.schema.ChangeEvent
    val withAdd = SchemaEvolution.evolveEnvelope(ChangeEvent.envelopeSchema,
      Seq(SchemaEvolution.ColumnAdd("t", "note", StringType)))
    val evolved = SchemaEvolution.evolveRenames(withAdd, Seq(
      SchemaEvolution.ColumnRename("t", "note", "vip_note"),
      SchemaEvolution.ColumnRename("t", "vip_note", "final_note")))
    Seq("before", "after").foreach { img =>
      val st = evolved(img).dataType.asInstanceOf[StructType]
      // old names stay (history + same-batch pre-DDL rows still parse)
      assert(st.fieldNames.contains("note"))
      assert(st("vip_note").dataType === StringType)
      assert(st("final_note").dataType === StringType) // chain resolved
    }
  }

  test("evolveEnvelope widens both images, idempotently") {
    import graft.schema.ChangeEvent
    val adds = Seq(
      SchemaEvolution.ColumnAdd("public.bookings", "note", StringType),
      SchemaEvolution.ColumnAdd("public.bookings", "note", StringType))
    val evolved = SchemaEvolution.evolveEnvelope(ChangeEvent.envelopeSchema, adds)
    Seq("before", "after").foreach { img =>
      val st = evolved(img).dataType.asInstanceOf[StructType]
      assert(st.fieldNames.count(_ == "note") === 1)
      assert(st("note").dataType === StringType)
    }
    assert(evolved("source") === ChangeEvent.envelopeSchema("source"))
  }

  test("column appears mid-stream; FINAL surfaces it null-backfilled; restart keeps it") {
    val root = Files.createTempDirectory("graft-evolve").toString
    val changes = s"$root/changes"
    val bookings = s"$root/bookings"
    val schemaDir = s"$root/schema"
    val deadLetter = s"$root/dead_letter"
    Files.createDirectories(Paths.get(changes))

    def writeLines(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(changes, name),
        lines.mkString("\n").getBytes("UTF-8"))

    // wave 1: the README workload in raw JSON wire form (base schema)
    val events = WorkloadFixture.toDf(spark)
    val baseLines = events
      .select(to_json(struct(events.columns.map(col): _*)).as("v"))
      .collect().map(_.getString(0)).toSeq
    writeLines("wave1.txt", baseLines)
    SchemaEvolution.runOnce(spark, changes, bookings, s"$root/ckpt",
      schemaDir, Some(deadLetter))

    val before = SchemaEvolution.readEvolvedLog(spark, bookings)
    assert(!before.columns.contains("note"))
    assert(VersionedUpsert.finalView(before).count() === 6L)

    // wave 2: the ADD COLUMN DDL followed by an update that uses it,
    // plus a non-additive DDL that must dead-letter
    def img(id: Int, bid: String, status: String, note: String) =
      s"""{"id":$id,"booking_id":"$bid","status":"$status","is_deleted":0,""" +
        s""""is_canceled":false,"created_at":1704067200000000,""" +
        s""""modified_at":1704067200000000,"note":"$note"}"""
    writeLines("wave2.txt", Seq(
      """{"ddl":"ALTER TABLE public.bookings ADD COLUMN note text","ts_ms":1704070000000}""",
      """{"ddl":"ALTER TABLE public.bookings DROP COLUMN status","ts_ms":1704070000001}""",
      s"""{"before":null,"after":${img(1, "b1", "Open", "vip")},""" +
        s""""source":{"sequence":"[\\"0\\",\\"20001\\"]","lsn":20001},"op":"u","ts_ms":1704070001000}"""))
    SchemaEvolution.runOnce(spark, changes, bookings, s"$root/ckpt",
      schemaDir, Some(deadLetter))

    val evolved = SchemaEvolution.readEvolvedLog(spark, bookings)
    assert(evolved.columns.contains("note"))
    val fv = VersionedUpsert.finalView(evolved)
      .select("booking_id", "note").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(fv.keySet === WorkloadFixture.goldenKeys.toSet)
    assert(fv("b1") === Some("vip"))
    // every pre-DDL row surfaces the new column null-backfilled
    assert(WorkloadFixture.goldenKeys.filterNot(_ == "b1")
      .forall(k => fv(k).isEmpty))

    // the non-additive DDL landed in the dead letter, raw wire form
    val dropped = spark.read.text(deadLetter)
    assert(dropped.filter(col("value").contains("DROP COLUMN")).count() === 1L)

    // wave 3: a RESTARTED pipeline (fresh runner, same journal) still
    // parses the evolved column without re-seeing the DDL
    writeLines("wave3.txt", Seq(
      s"""{"before":null,"after":${img(2, "b2", "Created", "gold")},""" +
        s""""source":{"sequence":"[\\"0\\",\\"20002\\"]","lsn":20002},"op":"u","ts_ms":1704070002000}"""))
    SchemaEvolution.runOnce(spark, changes, bookings, s"$root/ckpt",
      schemaDir, Some(deadLetter))
    val fv3 = VersionedUpsert.finalView(
        SchemaEvolution.readEvolvedLog(spark, bookings))
      .select("booking_id", "note").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(fv3("b2") === Some("gold"))
    assert(fv3("b1") === Some("vip"))

    // ---- wave 4: COLUMN RENAME mid-stream (note -> vip_note) ----
    def imgRenamed(id: Int, bid: String, status: String, note: String) =
      s"""{"id":$id,"booking_id":"$bid","status":"$status","is_deleted":0,""" +
        s""""is_canceled":false,"created_at":1704067200000000,""" +
        s""""modified_at":1704067200000000,"vip_note":"$note"}"""
    writeLines("wave4.txt", Seq(
      """{"ddl":"ALTER TABLE public.bookings RENAME COLUMN note TO vip_note","ts_ms":1704070003000}""",
      // base-column rename and a TABLE rename must both dead-letter
      """{"ddl":"ALTER TABLE public.bookings RENAME COLUMN status TO state","ts_ms":1704070003001}""",
      """{"ddl":"ALTER TABLE public.bookings RENAME TO bookings_v2","ts_ms":1704070003002}""",
      s"""{"before":null,"after":${imgRenamed(3, "b3", "Open", "silver")},""" +
        s""""source":{"sequence":"[\\"0\\",\\"20003\\"]","lsn":20003},"op":"u","ts_ms":1704070004000}"""))
    SchemaEvolution.runOnce(spark, changes, bookings, s"$root/ckpt",
      schemaDir, Some(deadLetter))

    val aliased = SchemaEvolution.readEvolvedLog(spark, bookings, schemaDir)
    // the alias map unifies history under the NEW name and retires the old
    assert(aliased.columns.contains("vip_note"))
    assert(!aliased.columns.contains("note"))
    val fv4 = VersionedUpsert.finalView(aliased)
      .select("booking_id", "vip_note").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(fv4("b3") === Some("silver")) // post-rename row, new name
    assert(fv4("b1") === Some("vip")) // pre-rename history BACKFILLED
    assert(fv4("b2") === Some("gold"))
    // unapplied renames dead-lettered in raw wire form; applied one not
    val dl4 = spark.read.text(deadLetter)
    assert(dl4.filter(col("value").contains("status TO state")).count() === 1L)
    assert(dl4.filter(col("value").contains("RENAME TO bookings_v2")).count() === 1L)
    assert(dl4.filter(col("value").contains("note TO vip_note")).count() === 0L)

    // ---- wave 5: restart keeps the alias without re-seeing the DDL ----
    writeLines("wave5.txt", Seq(
      s"""{"before":null,"after":${imgRenamed(4, "b4", "Created", "bronze")},""" +
        s""""source":{"sequence":"[\\"0\\",\\"20004\\"]","lsn":20004},"op":"u","ts_ms":1704070005000}"""))
    SchemaEvolution.runOnce(spark, changes, bookings, s"$root/ckpt",
      schemaDir, Some(deadLetter))
    val fv5 = VersionedUpsert.finalView(
        SchemaEvolution.readEvolvedLog(spark, bookings, schemaDir))
      .select("booking_id", "vip_note").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(fv5("b4") === Some("bronze"))
    assert(fv5("b1") === Some("vip"))

    // ---- wave 6: ADD an integer column, then rows at the narrow type ----
    def imgPrio(id: Int, bid: String, prio: String) =
      s"""{"id":$id,"booking_id":"$bid","status":"Open","is_deleted":0,""" +
        s""""is_canceled":false,"created_at":1704067200000000,""" +
        s""""modified_at":1704067200000000,"vip_note":"x","priority":$prio}"""
    writeLines("wave6.txt", Seq(
      """{"ddl":"ALTER TABLE public.bookings ADD COLUMN priority integer","ts_ms":1704070006000}""",
      s"""{"before":null,"after":${imgPrio(5, "b5", "7")},""" +
        s""""source":{"sequence":"[\\"0\\",\\"20005\\"]","lsn":20005},"op":"u","ts_ms":1704070006500}"""))
    SchemaEvolution.runOnce(spark, changes, bookings, s"$root/ckpt",
      schemaDir, Some(deadLetter))
    assert(SchemaEvolution.readEvolvedLog(spark, bookings, schemaDir)
      .schema("priority").dataType === IntegerType)

    // ---- wave 7: TYPE WIDEN mid-stream (integer -> bigint); a
    // narrowing change and a base-column change must dead-letter ----
    writeLines("wave7.txt", Seq(
      """{"ddl":"ALTER TABLE public.bookings ALTER COLUMN priority TYPE bigint","ts_ms":1704070007000}""",
      """{"ddl":"ALTER TABLE public.bookings ALTER COLUMN vip_note TYPE integer","ts_ms":1704070007001}""",
      """{"ddl":"ALTER TABLE public.bookings ALTER COLUMN booking_id TYPE text","ts_ms":1704070007002}""",
      // a value only the widened type can hold (past int32)
      s"""{"before":null,"after":${imgPrio(6, "b6", "9000000000")},""" +
        s""""source":{"sequence":"[\\"0\\",\\"20006\\"]","lsn":20006},"op":"u","ts_ms":1704070007500}"""))
    SchemaEvolution.runOnce(spark, changes, bookings, s"$root/ckpt",
      schemaDir, Some(deadLetter))

    // FINAL unifies history under the WIDE type: the log now holds
    // int32 files (wave 6) AND int64 files (wave 7) for `priority` —
    // the journaled cast map reads both, upcasting old rows
    val widened = SchemaEvolution.readEvolvedLog(spark, bookings, schemaDir)
    assert(widened.schema("priority").dataType === LongType)
    val fv7 = VersionedUpsert.finalView(widened)
      .select("booking_id", "priority").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(fv7("b5") === Some(7L)) // pre-widen history cast up
    assert(fv7("b6") === Some(9000000000L)) // needs the wide type
    assert(fv7("b1") === None) // pre-ADD history null-backfilled
    // narrowing + base-column type changes dead-lettered; the widen not
    val dl7 = spark.read.text(deadLetter)
    assert(dl7.filter(col("value").contains("vip_note TYPE integer"))
      .count() === 1L)
    assert(dl7.filter(col("value").contains("booking_id TYPE text"))
      .count() === 1L)
    assert(dl7.filter(col("value").contains("priority TYPE bigint"))
      .count() === 0L)

    // ---- wave 8: restart keeps the cast map without re-seeing DDL ----
    writeLines("wave8.txt", Seq(
      s"""{"before":null,"after":${imgPrio(7, "b6", "9000000001")},""" +
        s""""source":{"sequence":"[\\"0\\",\\"20007\\"]","lsn":20007},"op":"u","ts_ms":1704070008000}"""))
    SchemaEvolution.runOnce(spark, changes, bookings, s"$root/ckpt",
      schemaDir, Some(deadLetter))
    val fv8 = VersionedUpsert.finalView(
        SchemaEvolution.readEvolvedLog(spark, bookings, schemaDir))
      .select("booking_id", "priority").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(fv8("b6") === Some(9000000001L))
    assert(fv8("b5") === Some(7L))

    // ---- wave 9: data arriving under a REJECTED rename's wire name is
    // observable — the row lands in the log (known fields parse; the
    // unknown field nulls out) AND its raw form goes to the dead letter
    // so the per-row loss has a trace ----
    writeLines("wave9.txt", Seq(
      s"""{"before":null,"after":{"id":8,"booking_id":"b9x","state":"Weird",""" +
        s""""is_deleted":0,"is_canceled":false,"created_at":1704067200000000,""" +
        s""""modified_at":1704067200000000},""" +
        s""""source":{"sequence":"[\\"0\\",\\"20008\\"]","lsn":20008},"op":"u","ts_ms":1704070009000}"""))
    SchemaEvolution.runOnce(spark, changes, bookings, s"$root/ckpt",
      schemaDir, Some(deadLetter))
    val fv9 = VersionedUpsert.finalView(
        SchemaEvolution.readEvolvedLog(spark, bookings, schemaDir))
      .select("booking_id", "status").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(fv9.contains("b9x"), "lossy row still lands in the log")
    assert(fv9("b9x") === None, "the unknown wire field cannot populate")
    val dl9 = spark.read.text(deadLetter)
    assert(dl9.filter(col("value").contains("\"state\":\"Weird\""))
      .count() === 1L, "the loss must leave a per-row dead-letter trace")
  }

  private def update(lsn: Long, after: String) =
    s"""{"before":null,"after":$after,"source":{"sequence":""" +
      s""""[\\"0\\",\\"$lsn\\"]","lsn":$lsn},"op":"u","ts_ms":$lsn}"""

  private def image(id: Int, bid: String, extra: String) =
    s"""{"id":$id,"booking_id":"$bid","status":"Open","is_deleted":0,""" +
      s""""is_canceled":false,"created_at":1704067200000000,""" +
      s""""modified_at":1704067200000000,$extra}"""

  private def ddl(stmt: String) = s"""{"ddl":"$stmt","ts_ms":1}"""

  private def read(p: java.nio.file.Path) =
    new String(Files.readAllBytes(p), "UTF-8")

  test("DDL re-delivered within one micro-batch is journaled once") {
    val root = Files.createTempDirectory("graft-evolve-dup").toString
    val changes = Paths.get(root, "changes")
    Files.createDirectories(changes)
    val add = ddl("ALTER TABLE public.bookings ADD COLUMN priority integer")
    val widen =
      ddl("ALTER TABLE public.bookings ALTER COLUMN priority TYPE bigint")
    // one file = one micro-batch, each statement delivered twice
    Files.write(changes.resolve("wave1.txt"), Seq(add, add, widen, widen,
      update(30001L, image(1, "b1", "\"priority\":9000000000")))
      .mkString("\n").getBytes("UTF-8"))
    SchemaEvolution.runOnce(spark, changes.toString, s"$root/bookings",
      s"$root/ckpt", s"$root/schema", Some(s"$root/dl"))

    assert(read(Paths.get(root, "schema", "adds.tsv")) ===
      "public.bookings\tpriority\tINT\n")
    assert(read(Paths.get(root, "schema", "widens.tsv")) ===
      "public.bookings\tpriority\tBIGINT\n")
    assert(spark.read.text(s"$root/dl")
      .filter(col("value").contains("ddl")).count() === 0L)
    val fv = VersionedUpsert.finalView(SchemaEvolution.readEvolvedLog(
      spark, s"$root/bookings", s"$root/schema"))
    assert(fv.select("priority").head().getLong(0) === 9000000000L)
  }

  test("a schema journal written in the committed format restarts unchanged") {
    val root = Files.createTempDirectory("graft-evolve-compat").toString
    val schemaDir = Paths.get(root, "schema")
    Files.createDirectories(schemaDir)
    val journal = Map(
      "adds.tsv" -> ("public.bookings\tnote\tSTRING\n" +
        "public.bookings\tpriority\tINT\n"),
      "renames.tsv" -> "public.bookings\tnote\tvip_note\n",
      "widens.tsv" -> "public.bookings\tpriority\tBIGINT\n")
    journal.foreach { case (f, text) =>
      Files.write(schemaDir.resolve(f), text.getBytes("UTF-8")) }

    val logSchema = SchemaEvolution.evolvedLogSchema(spark, schemaDir.toString)
    assert(logSchema.fieldNames.toSeq === Seq("booking_id", "status",
      "is_deleted", "is_canceled", "created_at", "modified_at", "version",
      "note", "priority", "vip_note"))
    assert(logSchema("priority").dataType === LongType)
    assert(logSchema("vip_note").dataType === StringType)
    assert(SchemaEvolution.loadWidenJournal(schemaDir.toString) ===
      Seq(SchemaEvolution.ColumnWiden("public.bookings", "priority", LongType)))

    // a restarted writer parses the journaled columns without re-seeing
    // any DDL, and appends nothing to the journal
    val changes = Paths.get(root, "changes")
    Files.createDirectories(changes)
    Files.write(changes.resolve("wave1.txt"), update(40001L, image(1, "b1",
      "\"vip_note\":\"gold\",\"priority\":9000000000")).getBytes("UTF-8"))
    SchemaEvolution.runOnce(spark, changes.toString, s"$root/bookings",
      s"$root/ckpt", schemaDir.toString, Some(s"$root/dl"))
    journal.foreach { case (f, text) =>
      assert(read(schemaDir.resolve(f)) === text, f) }
    val fv = VersionedUpsert.finalView(SchemaEvolution.readEvolvedLog(
      spark, s"$root/bookings", schemaDir.toString))
    assert(!fv.columns.contains("note")) // the alias map still applies
    val row = fv.select("booking_id", "vip_note", "priority").head()
    assert((row.getString(0), row.getString(1), row.getLong(2)) ===
      (("b1", "gold", 9000000000L)))
  }

  test("the evolving writer parses each data row's envelope once") {
    val root = Files.createTempDirectory("graft-evolve-plan").toString
    val changes = Paths.get(root, "changes")
    Files.createDirectories(changes)
    Files.write(changes.resolve("wave1.txt"), Seq(
      ddl("ALTER TABLE public.bookings ADD COLUMN note text"),
      update(50001L, image(1, "b1", "\"note\":\"vip\""))).mkString("\n")
      .getBytes("UTF-8"))
    // the data write runs inside foreachBatch; a listener registered
    // before the start is cloned into the stream's session and sees it
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.optimizedPlan.foreach {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.getName == "bookings" => writes.add(w.query)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SchemaEvolution.runOnce(spark, changes.toString, s"$root/bookings",
        s"$root/ckpt", s"$root/schema")
      eventually(timeout(30.seconds))(assert(!writes.isEmpty))
    } finally spark.listenerManager.unregister(listener)
    val plan = writes.peek()
    val parses = plan.flatMap(_.expressions)
      .flatMap(_.collect { case j: JsonToStructs => j })
    // the DDL probe plus ONE envelope parse: the MV's op filter must not
    // push a second parse below the envelope
    assert(parses.size === 2, plan.toString)
    assert(parses.count(_.schema.asInstanceOf[StructType]
      .fieldNames.contains("after")) === 1, plan.toString)
  }
}
