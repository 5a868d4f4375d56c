package graft.operators

import graft.operators.VersionedUpsert.newer
import graft.schema.ChangeEvent.Booking
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed single-shuffle argmax: the `Aggregator[Booking, Booking,
  * Booking]` SURVEY.md §2.7 reserves for when the window-sort form of
  * the FINAL collapse is too heavy — one hash aggregate with map-side
  * partial combining (`reduce` runs before the exchange, so hot keys
  * collapse early), no per-partition sort, and a typed `Dataset[Booking]`
  * result.
  *
  * Recency order is [[VersionedUpsert.newer]] — the typed total order
  * matching `VersionedUpsert.bookingOrder` (version desc, is_deleted
  * desc, modified_at desc with NULLS LAST, stable payload tiebreak) —
  * property-tested against `finalView` on random replayed workloads.
  */
object LatestAggregator extends Aggregator[Booking, Booking, Booking] {

  /** Sentinel: version below any real LSN (real versions are >= 1). */
  override def zero: Booking =
    Booking(null, null, 0, is_canceled = false, null, null, Long.MinValue)

  override def reduce(buf: Booking, row: Booking): Booking =
    if (newer(row, buf)) row else buf

  override def merge(a: Booking, b: Booking): Booking =
    if (newer(a, b)) a else b

  override def finish(buf: Booking): Booking = buf

  override def bufferEncoder: Encoder[Booking] = Encoders.product[Booking]
  override def outputEncoder: Encoder[Booking] = Encoders.product[Booking]

  /** FINAL over a typed log: argmax per key, tombstones dropped. */
  def finalView(log: Dataset[Booking]): Dataset[Booking] = {
    implicit val enc: Encoder[Booking] = Encoders.product[Booking]
    implicit val senc: Encoder[String] = Encoders.STRING
    log.groupByKey(_.booking_id)
      .agg(LatestAggregator.toColumn.name("latest"))
      .map(_._2)
      .filter((b: Booking) => b.is_deleted == 0)
  }
}
