package graft

import graft.schema.ChangeEvent.Booking
import graft.streaming.StatefulUpsert
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Bounded-state streaming: mapGroupsWithState keeps one row per key
  * across micro-batches (streaming ReplacingMergeTree), and watermarked
  * windows emit exactly once after the watermark passes.
  */
class StatefulStreamingSpec extends SparkSpec {

  private def b(id: String, status: String, v: Long, del: Int = 0): Booking =
    Booking(id, status, del, is_canceled = false,
      new Timestamp(1000L * v), new Timestamp(1000L * v), v)

  test("latestPerKey: state carries max version across batches; stale replays lose") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Booking]
    val q = StatefulUpsert.latestPerKey(in.toDS())
      .writeStream.outputMode("update").format("memory").queryName("su").start()
    try {
      in.addData(b("b1", "Open", 1), b("b2", "Created", 2))
      q.processAllAvailable()
      // batch 2: in-batch disorder (v5 before v3) + a stale cross-batch
      // replay of b2 v1, which must lose to the v2 held in state
      in.addData(b("b1", "Closed", 5), b("b1", "Stale", 3), b("b2", "Old", 1))
      q.processAllAvailable()
      val rows = spark.table("su").as[Booking].collect()
      val b1Emitted = rows.filter(_.booking_id == "b1").map(_.version).toSet
      assert(b1Emitted === Set(1L, 5L)) // v3 never won a batch, never emitted
      assert(rows.filter(_.booking_id == "b2").map(_.version).toSet === Set(2L))
      assert(!rows.exists(r => r.booking_id == "b2" && r.status == "Old"))

      // batch 3: delete wins and is emitted as a tombstone
      in.addData(b("b1", "Closed", 6, del = 1))
      q.processAllAvailable()
      val last = spark.table("su").as[Booking].collect()
        .filter(_.booking_id == "b1").maxBy(_.version)
      assert(last.is_deleted === 1 && last.version === 6L)
    } finally q.stop()
  }

  test("latestPerKey over the README workload reaches the 6-row golden table") {
    implicit val sql = spark.sqlContext
    import graft.operators.{MvTransform, VersionedUpsert}
    import graft.sources.WorkloadFixture
    import spark.implicits._
    val upserts = MvTransform(WorkloadFixture.toDf(spark))
      .as[Booking].collect().toSeq
    val (wave1, wave2) = upserts.splitAt(upserts.size / 2)

    val in = MemoryStream[Booking]
    val q = StatefulUpsert.latestPerKey(in.toDS())
      .writeStream.outputMode("update").format("memory").queryName("golden").start()
    try {
      in.addData(wave1); q.processAllAvailable()
      in.addData(wave2); q.processAllAvailable()
      // per key, the last state emission is the max-version row; FINAL
      // filters tombstones — must equal the batch finalView golden table
      val streamed = VersionedUpsert.finalViewAgg(spark.table("golden"))
        .select("booking_id", "status").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
      assert(streamed === Seq(
        ("b1", "Open"), ("b10", "Completed"), ("b2", "Created"),
        ("b7", "Completed"), ("b8", "Cancelled"), ("b9", "Cancelled")))
    } finally q.stop()
  }

  test("dedupWithinWatermark: replays emit once; downstream FINAL matches batch finalView") {
    implicit val sql = spark.sqlContext
    import graft.operators.VersionedUpsert
    import spark.implicits._
    val in = MemoryStream[Booking]
    val q = StatefulUpsert.dedupWithinWatermark(in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("ddw").start()
    try {
      // in-batch duplicate + a distinct second key
      in.addData(b("b1", "Open", 1), b("b1", "Open", 1), b("b2", "Created", 2))
      q.processAllAvailable()
      // cross-batch replay of (b1, v1) within the lateness bound + fresh v3
      in.addData(b("b1", "Open", 1), b("b1", "Closed", 3))
      q.processAllAvailable()
      val rows = spark.table("ddw").as[Booking].collect()
      assert(rows.map(r => (r.booking_id, r.version)).sorted.toSeq ===
        Seq(("b1", 1L), ("b1", 3L), ("b2", 2L)))
      // bounded lateness ⇒ the deduped append stream still reaches the
      // same FINAL table the batch path computes over the raw log
      val streamedFinal = VersionedUpsert.finalViewAgg(spark.table("ddw"))
        .select("booking_id", "status").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
      assert(streamedFinal === Seq(("b1", "Closed"), ("b2", "Created")))
    } finally q.stop()
  }

  test("withQualityMetrics: observed metrics ride the micro-batch, no second scan") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Booking]
    val q = graft.streaming.CdcPipeline.withQualityMetrics(in.toDS().toDF())
      .writeStream.outputMode("append").format("memory").queryName("obs").start()
    try {
      in.addData(b("b1", "Open", 1), b("b2", "Created", 7))
      q.processAllAvailable()
      val m = q.recentProgress
        .flatMap(p => Option(p.observedMetrics.get("cdc_quality"))).last
      assert(m.getAs[Long]("rows") === 2L)
      assert(m.getAs[Long]("null_keys") === 0L)
      assert(m.getAs[Long]("max_version") === 7L)
      // the metrics and the sink rows come from the same pass
      assert(spark.table("obs").count() === 2L)
    } finally q.stop()
  }

  test("sessionizedEventCounts: sessions merge across batches, close at the gap") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val events = in.toDF().toDF("ts", "user_id")
    val q = StatefulUpsert.sessionizedEventCounts(events)
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    try {
      def t(h: Int, m: Int = 0) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // session A starts (two events within the 30 min gap)
      in.addData((t(0), "u1"), (t(0, 10), "u1"))
      q.processAllAvailable()
      // next batch extends session A (00:20 < 00:10 + gap), then a
      // quiet period and a separate session B at 02:00
      in.addData((t(0, 20), "u1"), (t(2), "u1"))
      q.processAllAvailable()
      // push the watermark far past both sessions; one more batch so
      // the advanced watermark takes effect
      in.addData((t(10), "u2"))
      q.processAllAvailable()
      in.addData((t(10, 30), "u2"))
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2.getTime))
      // session A: ONE row despite spanning two micro-batches; end =
      // last event + gap. Session B: singleton.
      assert(rows.toSeq === Seq(
        ("u1", t(0), t(0, 50), 3L),
        ("u1", t(2), t(2, 30), 1L)))
    } finally q.stop()
  }

  test("windowedEventCounts: watermark emits closed windows once, bounds state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val events = in.toDF().toDF("ts", "event_type")
    val q = StatefulUpsert.windowedEventCounts(events)
      .writeStream.outputMode("append").format("memory").queryName("wec").start()
    try {
      def t(h: Int, m: Int = 0) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      in.addData((t(0), "click"), (t(0, 30), "click"), (t(1), "view"))
      q.processAllAvailable()
      // advance event time far past hour-0 + 2h lateness...
      in.addData((t(6), "click"))
      q.processAllAvailable()
      // ...and one more batch so the new watermark takes effect
      in.addData((t(6, 30), "click"))
      q.processAllAvailable()
      val rows = spark.table("wec")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      assert(rows.contains((t(0), "click", 2L)))
      assert(rows.contains((t(1), "view", 1L)))
      // hour-6 window is still open: not emitted in append mode
      assert(!rows.exists(_._1 == t(6)))
    } finally q.stop()
  }
}
