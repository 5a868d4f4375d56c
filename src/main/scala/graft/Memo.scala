package graft

import org.apache.spark.sql.Dataset

/** The engine's one memo: trained models (centroids, codebooks,
  * rotations, tokenizers, weights) and materialized derived tables
  * (candidate pairs, truth pairs, stored indexes, layout readers),
  * each under the string key its operator derives through
  * [[DataVersion]], so regenerated data is a new key and never a stale
  * hit.
  *
  * One map, one eviction rule: a cached Dataset whose session has
  * stopped is dropped (its checkpoint blocks would otherwise stay
  * pinned for the JVM, and it is unusable anyway). Session-free values
  * (plain Seqs and arrays) live for the JVM.
  *
  * Builds run OUTSIDE the map's bin lock, in a per-key cell: a builder
  * may itself look up other keys (the OPQ codebook trains on the
  * memoized rotated corpus), which a nested `computeIfAbsent` on one
  * `ConcurrentHashMap` forbids. Concurrent lookups of one key build it
  * once; a builder that throws leaves no entry behind.
  */
object Memo {

  private final class Cell(private var build: () => AnyRef) {
    @volatile private var value: AnyRef = _
    def get: AnyRef = {
      if (value eq null) synchronized {
        if (value eq null) { value = build(); build = null }
      }
      value
    }
    def stopped: Boolean = value match {
      case d: Dataset[_] => d.sparkSession.sparkContext.isStopped
      case _ => false
    }
  }

  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** The value under `key`, built by `build` on a miss. */
  def apply[V <: AnyRef](key: String)(build: => V): V = {
    cells.values().removeIf(_.stopped)
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => build))
    try cell.get.asInstanceOf[V]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** Serve `value` under `key` from now on (a [[ModelStore]] reload). */
  def install(key: String, value: AnyRef): Unit = cells.put(key, new Cell(() => value))
}
