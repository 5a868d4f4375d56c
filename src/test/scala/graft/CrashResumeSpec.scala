package graft

import graft.operators.{Behavior, MvTransform, VersionedUpsert}
import graft.schema.ChangeEvent.Booking
import graft.sources.WorkloadFixture
import graft.streaming.{StatefulUpsert, StreamingFunnel}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Crash/restart proof for the stateful streaming operators (round-12
  * verdict item 5): stop the query mid-stream after batch 1, start a
  * NEW query from the same checkpoint, and assert the end state equals
  * the uninterrupted run — the state store must carry the per-key
  * winner (`latestPerKey`, default store), the value/list state AND
  * the armed event-time timers (`funnelFrontier`, RocksDB) across the
  * restart, and the sink must come out exactly-once (file sink) or
  * collapse-tolerant (foreachBatch + versioned FINAL read).
  *
  * The CdcPipeline checkpoint-resume golden (StreamingSpec) already
  * covers the flatMapGroupsWithState path.
  */
class CrashResumeSpec extends SparkSpec {

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"resume-$tag").toString

  test("latestPerKey kill-and-resume reaches the uninterrupted golden table") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val upserts = MvTransform(WorkloadFixture.toDf(spark))
      .as[Booking].collect().toSeq
    val (wave1, wave2) = upserts.splitAt(upserts.size / 2)
    val cp = tmp("upsert-cp")
    val out = tmp("upsert-out")
    val in = MemoryStream[Booking]
    def start() = StatefulUpsert.latestPerKey(in.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Booking], _: Long) =>
        b.write.mode("append").parquet(out)
      }
      .start()

    // batch 1, then KILL
    val q1 = start()
    in.addData(wave1)
    q1.processAllAvailable()
    q1.stop()

    // wave 2 lands while the query is down; a NEW query resumes from
    // the checkpoint — recovered per-key max-version state must beat
    // stale replays exactly as an uninterrupted run would
    in.addData(wave2)
    val q2 = start()
    try {
      q2.processAllAvailable()
    } finally q2.stop()

    // foreachBatch is at-least-once across the kill boundary; the
    // versioned FINAL read collapses any replayed emission — the
    // same at-least-once tolerance the CDC sink contract (S6/A4)
    // is built on
    val streamed = VersionedUpsert.finalViewAgg(spark.read.parquet(out))
      .select("booking_id", "status").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(streamed === Seq(
      ("b1", "Open"), ("b10", "Completed"), ("b2", "Created"),
      ("b7", "Completed"), ("b8", "Cancelled"), ("b9", "Cancelled")))
  }

  private val hourUs = 3600L * 1000 * 1000
  private val dayUs = Behavior.dayUs
  private val t0 = 1700000000000000L

  // the StreamingFunnelSpec fixture verbatim — the kill-resume run
  // must reach ITS golden expectations
  private def fixture: Seq[(Long, Long, String)] = Seq(
    (1L, t0, "view"), (1L, t0 + hourUs, "click"),
    (1L, t0 + 2 * hourUs, "purchase"),
    (2L, t0, "view"), (2L, t0 + 8 * dayUs, "click"),
    (3L, t0 + hourUs, "view"), (3L, t0 + 90 * 60 * 1000000L, "click"),
    (4L, t0, "view"), (4L, t0 + 30 * 60 * 1000000L, "purchase"),
    (5L, t0, "click"),
    (6L, t0, "view"), (6L, t0 + 60 * 1000000L, "click"),
    (6L, t0 - hourUs, "view"))

  test("funnelFrontier kill-and-resume: buffered events AND armed timers survive") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val cp = tmp("funnel-cp")
      val out = tmp("funnel-out")
      val in = MemoryStream[(Long, Long, String)]
      def start() = StreamingFunnel.funnelFrontier(
          in.toDF().toDF("user_id", "us", "event_type")
            .withColumn("ts", timestamp_micros(col("us"))).drop("us"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .format("parquet").option("path", out)
        .start()

      val wave1 = fixture.filter { case (u, _, t) => u == 3L && t == "click" }
      val wave3 = fixture.filter { case (u, us, _) => u == 6L && us == t0 - hourUs }
      val wave4 = fixture.filter { case (u, _, t) => u == 2L && t == "click" }
      val wave2 = fixture.diff(wave1 ++ wave3 ++ wave4)

      // batches 1-2 (out-of-order click, then the bulk), then KILL
      // while every funnel is still open (watermark far below the
      // deadlines) — all state is in the buffers + timers
      val q1 = start()
      in.addData(wave1)
      q1.processAllAvailable()
      in.addData(wave2)
      q1.processAllAvailable()
      q1.stop()

      // resume: u6's LATE earlier view must land in the RECOVERED
      // buffer and re-arm the recovered timer; then the watermark
      // advances past every deadline and the recovered timers fire
      val q2 = start()
      try {
        in.addData(wave3)
        q2.processAllAvailable()
        in.addData(wave4)
        q2.processAllAvailable()
        in.addData(Seq((999L, t0 + 20 * dayUs, "heartbeat")))
        q2.processAllAvailable()
        in.addData(Seq.empty)
        q2.processAllAvailable()
      } finally q2.stop()

      // exactly-once file sink: read back and compare to the golden
      // per-user map the uninterrupted run (StreamingFunnelSpec)
      // asserts
      val rows = spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("v_us"),
            Option(r.getAs[Any]("c_us")).map(_.asInstanceOf[Long]),
            Option(r.getAs[Any]("p_us")).map(_.asInstanceOf[Long]),
            r.getAs[Int]("stage_reached")))).toMap
      assert(rows.keySet === Set(1L, 2L, 3L, 4L, 6L))
      assert(rows(1L) === ((t0, Some(t0 + hourUs), Some(t0 + 2 * hourUs), 3)))
      assert(rows(2L) === ((t0, None, None, 1)))
      assert(rows(3L) === ((t0 + hourUs, Some(t0 + 90 * 60 * 1000000L), None, 2)))
      assert(rows(4L) === ((t0, None, None, 1)))
      assert(rows(6L) === ((t0 - hourUs, Some(t0 + 60 * 1000000L), None, 2)))
      // exactly one closure row per funnel user — no duplicate fires
      // across the restart boundary
      assert(spark.read.parquet(out).count() === 5L)
    }
  }

  test("schema-evolution widen kill-and-resume: the replayed widen batch " +
    "is idempotent and the cast map reapplies from the journal") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.SchemaEvolution
    def imgPrio(id: Int, bid: String, prio: String) =
      s"""{"id":$id,"booking_id":"$bid","status":"Open","is_deleted":0,""" +
        s""""is_canceled":false,"created_at":1704067200000000,""" +
        s""""modified_at":1704067200000000,"priority":$prio}"""
    def data(img: String, lsn: Long, ts: Long) =
      s"""{"before":null,"after":$img,""" +
        s""""source":{"sequence":"[\\"0\\",\\"$lsn\\"]","lsn":$lsn},""" +
        s""""op":"u","ts_ms":$ts}"""
    val waves: Seq[Seq[String]] = Seq(
      // wave 1: ADD the integer column + a narrow row
      Seq("""{"ddl":"ALTER TABLE public.bookings ADD COLUMN priority integer","ts_ms":1704070000000}""",
        data(imgPrio(1, "b1", "7"), 10001L, 1704070000500L)),
      // wave 2 — the WIDEN wave the crash will replay: the DDL plus a
      // value only the wide type can hold
      Seq("""{"ddl":"ALTER TABLE public.bookings ALTER COLUMN priority TYPE bigint","ts_ms":1704070001000}""",
        data(imgPrio(2, "b2", "9000000000"), 10002L, 1704070001500L)),
      // wave 3: lands while the killed pipeline is down
      Seq(data(imgPrio(3, "b1", "9000000007"), 10003L, 1704070002000L)))

    def run(crashMidWiden: Boolean): String = {
      val root = tmp(if (crashMidWiden) "widen-crash" else "widen-golden")
      val changes = s"$root/changes"
      Files.createDirectories(Paths.get(changes))
      def put(n: Int): Unit =
        Files.write(Paths.get(changes, s"wave$n.txt"),
          waves(n - 1).mkString("\n").getBytes("UTF-8"))
      def drain(): Unit = SchemaEvolution.runOnce(spark, changes,
        s"$root/bookings", s"$root/ckpt", s"$root/schema", Some(s"$root/dl"))
      put(1); drain()
      put(2); drain()
      if (crashMidWiden) {
        // the non-atomic crash window T7 cannot close: the widen
        // journal and the parquet append landed, the checkpoint
        // commit did NOT — deleting the latest commit marker makes
        // the restart REPLAY the widen micro-batch (at-least-once),
        // exactly what a kill between the two writes produces
        val commits = new java.io.File(s"$root/ckpt/commits").listFiles()
          .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
        assert(commits.nonEmpty && commits.last.delete())
        // the local ChecksumFileSystem's sidecar must go too, or the
        // replay's atomic re-write reads as a concurrent writer
        new java.io.File(s"$root/ckpt/commits/.${commits.last.getName}.crc")
          .delete()
      }
      put(3); drain() // fresh runner: journals reload, batch replays
      root
    }

    val golden = run(crashMidWiden = false)
    val crashed = run(crashMidWiden = true)

    // the re-delivered widen DDL was RECOGNIZED, not re-journaled (a
    // doubled journal line would re-cast idempotently today but turn
    // any future ordered fold wrong) — and it must not dead-letter
    assert(SchemaEvolution.loadWidenJournal(s"$crashed/schema") ===
      SchemaEvolution.loadWidenJournal(s"$golden/schema"))
    assert(SchemaEvolution.loadWidenJournal(s"$crashed/schema").length === 1)
    assert(spark.read.text(s"$crashed/dl")
      .filter(col("value").contains("priority TYPE bigint")).count() === 0L)

    def evolved(root: String) =
      SchemaEvolution.readEvolvedLog(spark, s"$root/bookings", s"$root/schema")
    // byte-compare to the uninterrupted run: same evolved schema (the
    // journal replay applied the cast map), and the replayed append
    // only duplicated byte-identical rows — distinct log rows equal
    assert(evolved(crashed).schema === evolved(golden).schema)
    def logRows(root: String) = evolved(root).distinct().collect()
      .map(_.toSeq).toSet
    assert(logRows(crashed) === logRows(golden))
    // FINAL collapses the at-least-once replay: per-key argmax equal,
    // with pre-widen history cast up and the wide value intact
    def finalRows(root: String) =
      VersionedUpsert.finalView(evolved(root))
        .select("booking_id", "priority").collect()
        .map(r => r.getString(0) -> Option(r.get(1))).toMap
    val fvC = finalRows(crashed)
    assert(fvC === finalRows(golden))
    assert(fvC("b1") === Some(9000000007L)) // wave-3 beats wave-1 by LSN
    assert(fvC("b2") === Some(9000000000L)) // needs the widened type
  }
}
