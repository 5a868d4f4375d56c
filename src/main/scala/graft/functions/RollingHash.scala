package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Rabin-Karp kernel: polynomial hash base 31 mod 2^31−1 over Unicode
  * code points, returning `[content_hash, winnow_min]` where winnow_min
  * is the minimum hash over every `window`-code-point sliding window
  * (the whole string when shorter).
  *
  * Equivalent to folding `(acc * 31 + code) % M` over each window — the
  * formula the DuckDB oracle states directly — but O(n) instead of
  * O(window·n): the window hash is *rolled* (outgoing code point's
  * contribution subtracted via the precomputed 31^(window−1), incoming
  * code point appended) rather than recomputed. Exact: modular
  * arithmetic commutes with the roll. Iterates code points (not UTF-16
  * code units), matching the oracle's `ord()` / `len()` / `substr()`
  * semantics for non-BMP text as well.
  */
object RollingHashUtil {
  private val M = 2147483647L
  private val B = 31L

  /** UTF-16 → code points (all window arithmetic is in code points so
    * alignment matches DuckDB's `generate_series`/`len` semantics).
    */
  private def codePoints(str: String): (Array[Int], Int) = {
    val cp = new Array[Int](str.length)
    var n = 0
    var u = 0
    while (u < str.length) {
      val c = str.codePointAt(u)
      cp(n) = c
      n += 1
      u += Character.charCount(c)
    }
    (cp, n)
  }

  /** The rolled per-position k-gram hashes hs(0 .. n−k) — the shared
    * core of [[winnow]] and [[windowHashes]]. Empty when the text is
    * shorter than k.
    */
  private def positionHashes(cp: Array[Int], n: Int, k: Int): Array[Long] = {
    val nh = n - k + 1
    if (nh <= 0) return Array.empty[Long]
    val hs = new Array[Long](nh)
    var bPow = 1L
    var i = 1
    while (i < k) { bPow = (bPow * B) % M; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = (h * B + cp(i)) % M; i += 1 }
    hs(0) = h
    i = 1
    while (i < nh) {
      val out = (cp(i - 1).toLong * bPow) % M
      h = (((h - out + M) % M) * B + cp(i + k - 1)) % M
      hs(i) = h
      i += 1
    }
    hs
  }

  /** Every per-position k-gram hash of the text, in position order —
    * the duplicate-span primitive: position i (0-based) hashes code
    * points [i, i+k). Empty array when the text is shorter than k.
    */
  def windowHashes(s: UTF8String, k: Int): GenericArrayData = {
    val (cp, n) = codePoints(s.toString)
    new GenericArrayData(positionHashes(cp, n, k))
  }

  /** Winnowing fingerprint selection (Schleimer et al., MOSS): the k-gram
    * Rabin-Karp hashes of the text, reduced to the SET of per-window
    * minima over every `w` consecutive hashes — the guarantee is that
    * any shared substring of length ≥ k + w − 1 yields at least one
    * shared selected fingerprint, at ~2/(w+1) of the full hash density.
    * Returns the distinct selected values sorted ascending (position
    * data is deliberately dropped: downstream joins need the set, and
    * a set output keeps the tie-breaking rule out of the contract, so
    * the DuckDB oracle can state it as `list_distinct(list_transform
    * (..., i -> list_min(h[i+1:i+w])))`). Texts shorter than k return
    * an empty array; k ≤ length < k+w−1 selects the single global min.
    *
    * O(n) via a monotonic deque over the rolled hashes.
    */
  def winnow(s: UTF8String, k: Int, w: Int): GenericArrayData = {
    val (cp, n) = codePoints(s.toString)
    val hs = positionHashes(cp, n, k)
    val nh = hs.length
    if (nh == 0) return new GenericArrayData(Array.empty[Long])
    var i = 0

    val sel = new java.util.TreeSet[java.lang.Long]()
    if (nh <= w) {
      var m = hs(0)
      i = 1
      while (i < nh) { if (hs(i) < m) m = hs(i); i += 1 }
      sel.add(m)
    } else {
      // monotonic deque of indices; front = min of the current window
      val dq = new Array[Int](nh)
      var head = 0
      var tail = 0 // exclusive
      i = 0
      while (i < nh) {
        while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) sel.add(hs(dq(head)))
        i += 1
      }
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Duplicate-span islands of one document. `pos` holds the 1-based
    * code-point positions of its duplicated k-gram windows, in any
    * order; window p covers code points [p, p+k−1], so two windows at
    * p < p' cover one contiguous span iff p' − p ≤ k (a gap of k
    * leaves them touching, k+1 leaves one code point uncovered).
    * Returns the islands in position order, flattened as
    * (start, end, windows) triples with end = last window + k − 1.
    */
  private def islands(pos: ArrayData, k: Int): Array[Long] = {
    val n = pos.numElements()
    val p = new Array[Long](n)
    var i = 0
    while (i < n) { p(i) = pos.getLong(i); i += 1 }
    java.util.Arrays.sort(p)
    val out = new Array[Long](3 * n)
    var m = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && p(j) - p(j - 1) <= k) j += 1
      out(m) = p(i); out(m + 1) = p(j - 1) + k - 1; out(m + 2) = j - i
      m += 3
      i = j
    }
    java.util.Arrays.copyOf(out, m)
  }

  /** [[islands]] as rows of (span_start, span_end, span_len,
    * n_windows) — the [[DupSpanIslands]] result.
    */
  def spanIslands(pos: ArrayData, k: Int): GenericArrayData = {
    val isl = islands(pos, k)
    val rows = new Array[Any](isl.length / 3)
    var i = 0
    while (i < rows.length) {
      val s = isl(3 * i)
      val e = isl(3 * i + 1)
      rows(i) = new GenericInternalRow(Array[Any](s, e, e - s + 1, isl(3 * i + 2)))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** The text with every [[islands]] span cut out, indexed by code
    * point (a surrogate pair is one position, as in the windows and in
    * SQL `substr`/`length`). Spans past the text's end cut nothing.
    */
  def cutSpans(text: UTF8String, pos: ArrayData, k: Int): UTF8String = {
    val isl = islands(pos, k)
    if (isl.isEmpty) return text
    val (cp, n) = codePoints(text.toString)
    val sb = new java.lang.StringBuilder(n)
    def keep(from: Long, to: Long): Unit = {
      var c = math.max(from, 1L)
      val hi = math.min(to, n.toLong)
      while (c <= hi) { sb.appendCodePoint(cp((c - 1).toInt)); c += 1 }
    }
    var cur = 1L
    var i = 0
    while (i < isl.length) {
      keep(cur, isl(i) - 1)
      cur = isl(i + 1) + 1
      i += 3
    }
    keep(cur, n)
    UTF8String.fromString(sb.toString)
  }

  def rollingHash(s: UTF8String, window: Int): GenericArrayData = {
    val (cp, n) = codePoints(s.toString)
    var content = 0L
    var i = 0
    while (i < n) { content = (content * B + cp(i)) % M; i += 1 }
    val winnowMin = if (n <= window) content else positionHashes(cp, n, window).min
    new GenericArrayData(Array(content, winnowMin))
  }

}

/** Native codegen'd `rolling_hash(text, window)` → `array<bigint>` of
  * `[content_hash, winnow_min]`. Replaces a nested
  * `transform(sequence(...), s -> aggregate(sequence(s, s+15), ...))`
  * pipeline that ran on the interpreted lambda path at O(window·n) with
  * per-element boxing.
  */
object RollingHash extends Kernel("rolling_hash", 1, Seq("window")) {
  override def check(s: Seq[Int]): Unit =
    require(s(0) >= 2, s"window must be >= 2, got ${s(0)}")
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] =
    stringChild(t, "RollingHashUtil.rollingHash", longs)

  /** Column-API entry point: `RollingHash.of($"text", 16)`. */
  def of(text: Column, window: Int): Column = call(Seq(text), window)
}

/** Native codegen'd `window_hashes(text, k)` → `array<bigint>` of the
  * per-position k-gram Rabin-Karp hashes in position order (element i
  * hashes code points [i, i+k); empty when the text is shorter than
  * k) — the duplicate-span primitive: O(n) rolled, vs the O(k·n)
  * interpreted `transform(sequence(...), aggregate(...))` pipeline it
  * replaces in hot paths.
  */
object WindowHashes extends Kernel("window_hashes", 1, Seq("k-gram width k")) {
  override def check(s: Seq[Int]): Unit = require(s(0) >= 2, s"k must be >= 2, got ${s(0)}")
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] =
    stringChild(t, "RollingHashUtil.windowHashes", longs)

  /** Column-API entry point: `WindowHashes.of($"text", 16)`. */
  def of(text: Column, k: Int): Column = call(Seq(text), k)
}

/** Native codegen'd `dup_span_islands(positions, k)` →
  * `array<struct<span_start, span_end, span_len, n_windows>>`: one
  * document's duplicated-window positions (1-based code points, any
  * order) folded into maximal covered spans in position order (see
  * [[RollingHashUtil.spanIslands]]) — the per-document half of
  * duplicate-span detection, one call per doc instead of a lag window,
  * a running-sum window and a regroup over every flagged window.
  */
object DupSpanIslands extends Kernel("dup_span_islands", 1, Seq("k-gram width k")) {
  override def check(s: Seq[Int]): Unit = require(s(0) >= 2, s"k must be >= 2, got ${s(0)}")
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] = t.head match {
    case ArrayType(LongType, _) => Right("RollingHashUtil.spanIslands" -> ArrayType(StructType(
      Seq("span_start", "span_end", "span_len", "n_windows")
        .map(StructField(_, LongType, nullable = false))), containsNull = false))
    case other => Left(s"dup_span_islands needs array<bigint> positions, got $other")
  }

  /** Column-API entry point: `DupSpanIslands.of($"pos", 32)`. */
  def of(positions: Column, k: Int): Column = call(Seq(positions), k)
}

/** Native codegen'd `cut_dup_spans(text, positions, k)` → the text with
  * the [[DupSpanIslands]] spans of the same positions removed, cut by
  * code point (see [[RollingHashUtil.cutSpans]]).
  */
object CutDupSpans extends Kernel("cut_dup_spans", 2, Seq("k-gram width k")) {
  override def check(s: Seq[Int]): Unit = require(s(0) >= 2, s"k must be >= 2, got ${s(0)}")
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] =
    (t(0), t(1)) match {
      case (text: StringType, ArrayType(LongType, _)) => Right("RollingHashUtil.cutSpans" -> text)
      case (l, r) => Left(s"cut_dup_spans needs (string, array<bigint>), got ($l, $r)")
    }

  /** Column-API entry point: `CutDupSpans.of($"text", $"pos", 32)`. */
  def of(text: Column, positions: Column, k: Int): Column = call(Seq(text, positions), k)
}

/** Native codegen'd `winnow(text, k, w)` → sorted distinct
  * `array<bigint>` of winnowed k-gram fingerprints (see
  * [[RollingHashUtil.winnow]]).
  */
object WinnowFingerprints
    extends Kernel("winnow", 1, Seq("k-gram width k", "selection window w")) {
  override def check(s: Seq[Int]): Unit =
    require(s(0) >= 2 && s(1) >= 2, s"k and w must be >= 2, got k=${s(0)} w=${s(1)}")
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] =
    stringChild(t, "RollingHashUtil.winnow", longs)

  /** Column-API entry point: `WinnowFingerprints.of($"text", 16, 8)`. */
  def of(text: Column, k: Int, w: Int): Column = call(Seq(text), k, w)
}
