package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document character-bigram statistics kernel, shared by
  * interpreted eval and generated code: struct(n_bigrams, n_distinct,
  * plogp_sum) in ONE sequential pass over the string.
  *
  * This replaces the composed explode form (every bigram OCCURRENCE
  * shuffled into a corpus×(len−1)-row (doc, bigram) reduction plus a
  * per-doc `collect_list`) — entropy needs only the document's OWN
  * characters, so shuffling the corpus was the first-plan-that-worked,
  * not the 100 TB plan. Here the whole computation stays inside
  * whole-stage codegen with zero exchanges; the only shuffle left in
  * the query is the presentation sort.
  *
  * EXACT float contract (what the DuckDB oracle and the old composed
  * form both compute, bit for bit): with the doc's distinct bigrams
  * sorted in UTF-8 BINARY order (= code-point order; DuckDB's default
  * varchar collation and Spark's `sort_array` on UTF8String agree),
  * fold acc ← acc + p·ln(p) left to right from acc = 0.0, where
  * p = count/total with both operands exact integer counts cast to
  * double. The caller rounds −acc at 4; `n_bigrams` = code points − 1,
  * `n_distinct` = distinct bigram types — exact integers.
  *
  * Characters are Unicode code points (DuckDB `substr` semantics —
  * the corpus is ASCII where Java chars coincide anyway), and the
  * sort comparator compares CODE POINTS, not Java UTF-16 code units:
  * the two orders diverge for supplementary characters vs U+E000..
  * U+FFFF, and the oracle sorts UTF-8 bytes. Cost is O(n) map probes
  * + O(k log k) for the k distinct types of one document — state
  * bounded by the document, never the corpus.
  */
object BigramEntropyKernel {

  /** Code-point lexicographic order == UTF-8 byte order. */
  private val cpOrder: java.util.Comparator[String] =
    new java.util.Comparator[String] {
      override def compare(a: String, b: String): Int = {
        var i = 0
        var j = 0
        while (i < a.length && j < b.length) {
          val ca = a.codePointAt(i)
          val cb = b.codePointAt(j)
          if (ca != cb) return Integer.compare(ca, cb)
          i += Character.charCount(ca)
          j += Character.charCount(cb)
        }
        Integer.compare(a.length - i, b.length - j)
      }
    }

  def stats(s: UTF8String): InternalRow = {
    val str = s.toString
    val counts = new java.util.HashMap[String, Array[Long]]()
    var n = 0L
    var prev = -1 // char index where the previous code point starts
    var i = 0
    val len = str.length
    while (i < len) {
      val cp = str.codePointAt(i)
      val w = Character.charCount(cp)
      if (prev >= 0) {
        val bg = str.substring(prev, i + w)
        val slot = counts.get(bg)
        if (slot == null) counts.put(bg, Array(1L)) else slot(0) += 1L
        n += 1L
      }
      prev = i
      i += w
    }
    if (n == 0L) return InternalRow(0L, 0L, 0.0)
    val keys = new java.util.ArrayList[String](counts.keySet())
    keys.sort(cpOrder)
    val nd = n.toDouble
    var acc = 0.0
    var k = 0
    while (k < keys.size()) {
      val p = counts.get(keys.get(k))(0).toDouble / nd
      acc += p * math.log(p)
      k += 1
    }
    InternalRow(n, keys.size().toLong, acc)
  }
}

/** Native codegen'd bigram-statistics expression over a string column:
  * struct(n_bigrams, n_distinct, plogp_sum). A per-document stateful
  * histogram has no builtin composition that avoids a corpus-sized
  * explode, so — same HOF→kernel promotion as [[Lz78PhraseCount]] and
  * [[Int8QuantStats]] — one static-kernel call inside whole-stage
  * codegen, with the interpreted path evaluating the identical kernel.
  */
object BigramEntropyStats extends Kernel("bigram_entropy_stats", 1, Nil) {
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] = t.head match {
    case StringType => Right("BigramEntropyKernel.stats" -> StructType(Seq(
      StructField("n_bigrams", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("plogp_sum", DoubleType, nullable = false))))
    case other => Left(s"bigram_entropy_stats needs a string child, got $other")
  }

  /** Column-API entry point. */
  def apply(a: Column): Column = call(Seq(a))
}
