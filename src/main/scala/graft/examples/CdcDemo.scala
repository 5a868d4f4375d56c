package graft.examples

import graft.operators.{MvTransform, VersionedUpsert}
import graft.sources.{ChangeLog, WorkloadFixture}
import graft.streaming.CdcPipeline

/** Runnable end-to-end demo of the CDC engine: replays the reference's
  * documented workload (`/root/reference/README.md:142-305`) over the
  * JSON wire format, through the streaming pipeline, into a versioned
  * upsert log, then reads it back with dedup-on-read (`FINAL`).
  *
  * Usage: `sbt "runMain graft.examples.CdcDemo [stateDir]"`.
  * Re-running against the same stateDir appends a full replay
  * (at-least-once double delivery) — the final table must not change.
  */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = graft.LocalSession("WARN")

    // 1. change events → schemaless JSON wire form → landed as files
    //    (stand-in for the Kafka topic; same envelope either way)
    val wire = ChangeLog.toJsonValues(WorkloadFixture.toDf(spark))
    val changesDir = s"$root/changes"
    wire.write.mode("append").text(changesDir)
    println(s"[demo] landed ${wire.count()} change messages at $changesDir")

    // 2. stream: read wire JSON with the explicit envelope schema,
    //    MV-transform, append to the bookings log (checkpointed)
    val envelope = ChangeLog.fromJsonValues(
      spark.readStream.text(changesDir), valueCol = "value")
    val q = CdcPipeline.writeTo(MvTransform(envelope),
      s"$root/bookings", s"$root/ckpt-${System.nanoTime()}",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()

    // 3. read path: SELECT * FROM bookings FINAL
    val log = spark.read.parquet(s"$root/bookings")
    val fv = VersionedUpsert.finalView(log).orderBy("booking_id")
    println(s"[demo] change-log rows: ${log.count()}")
    println(s"[demo] FINAL rows: ${fv.count()}")
    fv.show(20, truncate = false)
    spark.stop()
  }
}
