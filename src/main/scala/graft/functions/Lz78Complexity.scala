package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** LZ78 incremental-parse phrase counter — the Lempel–Ziv complexity
  * of a document, shared by interpreted eval and generated code.
  *
  * Exact parse rule (the SPEC both engines implement — the DuckDB
  * oracle replays it as a per-character recursive CTE):
  * scan left to right with current phrase `cur` = ""; for each
  * character c, let t = cur + c; if t is already in the dictionary,
  * cur ← t; otherwise emit t as a NEW phrase (count++, dictionary ←
  * dictionary ∪ {t}) and reset cur ← "". A non-empty trailing `cur`
  * counts as one final phrase. The dictionary starts EMPTY (single
  * characters become phrases on first sight).
  *
  * The phrase count grows ~n/log n on incompressible text and far
  * slower on repetitive text, so phrases/chars is a reference-free
  * redundancy signal — the compression-proxy quality filter of
  * Gopher-era corpus pipelines, without shipping a zlib dependency or
  * a platform-defined bitstream into the oracle contract.
  *
  * Characters are Unicode code points (DuckDB `substr` semantics; the
  * corpus is ASCII where the two coincide with Java chars anyway).
  * Cost is O(n) dictionary probes over O(n) total phrase chars.
  */
object Lz78Kernel {

  def count(s: UTF8String): Int = {
    val str = s.toString
    val dict = new java.util.HashSet[String]()
    val cur = new java.lang.StringBuilder
    var phrases = 0
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      cur.appendCodePoint(cp)
      val t = cur.toString
      if (!dict.contains(t)) {
        dict.add(t)
        phrases += 1
        cur.setLength(0)
      }
      i += Character.charCount(cp)
    }
    if (cur.length > 0) phrases += 1
    phrases
  }
}

/** Native codegen'd LZ78 phrase count over a string column. A
  * sequential per-document parse has no builtin-function composition
  * at all (stateful dictionary), so the alternatives are a Scala UDF
  * (boxing + Row codec per row) or this: one static-kernel call
  * inside whole-stage codegen — the same HOF→kernel promotion as
  * [[DotProductD]] / [[Int8QuantStats]].
  */
object Lz78PhraseCount extends Kernel("lz78_phrase_count", 1, Nil) {
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] = t.head match {
    case StringType => Right("Lz78Kernel.count" -> IntegerType)
    case other => Left(s"lz78_phrase_count needs a string child, got $other")
  }

  /** Column-API entry point. */
  def apply(a: Column): Column = call(Seq(a))
}
