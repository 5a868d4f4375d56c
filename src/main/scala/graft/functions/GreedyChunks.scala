package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Greedy word-boundary chunker — the tokenizer-safe packing primitive
  * RAG pipelines and context-window packers run: split a document into
  * chunks of at most `maxChars` characters WITHOUT ever cutting a word
  * in half (a mid-word cut corrupts both halves for any tokenizer;
  * sentence terminators need no special casing — `.`/`!`/`?` ride
  * inside their word unit and land at unit ends anyway).
  *
  * Exact rule (the SPEC both engines implement — the DuckDB oracle
  * replays it as a per-unit recursive CTE):
  *
  *  - A UNIT ends at 1-based position i when the character there is a
  *    space (the space closes the preceding word and travels with it,
  *    so chunks partition the text exactly), and the final position
  *    always closes the last unit.
  *  - Chunks pack units greedily in order: extend the open chunk while
  *    `end − chunk_start + 1 ≤ maxChars`; otherwise close it and open
  *    a new chunk at the previous unit's end + 1. A single unit longer
  *    than `maxChars` becomes its own oversized chunk — never split
  *    mid-word.
  *
  * Returns the chunk END positions (1-based, code points, ascending);
  * chunk starts are the previous end + 1 (first chunk starts at 1).
  * Empty text → empty array. Positions count Unicode code points
  * (DuckDB `substr` semantics — identical to Java chars on the ASCII
  * corpus).
  */
object GreedyChunkKernel {

  def chunkEnds(s: UTF8String, maxChars: Int): GenericArrayData = {
    val str = s.toString
    if (str.isEmpty) return new GenericArrayData(Array.empty[Int])
    // 1) unit end positions (code points, 1-based)
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0 // java char index
    var p = 0 // code-point position (0-based)
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val next = i + Character.charCount(cp)
      p += 1
      if (cp == ' ' || next >= str.length) ends += p
      i = next
    }
    // 2) greedy pack
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var chunkStart = 1
    var last = 0
    var k = 0
    while (k < ends.length) {
      val e = ends(k)
      if (last == 0) last = e // first unit always enters (even oversized)
      else if (e - chunkStart + 1 <= maxChars) last = e
      else {
        out += last
        chunkStart = last + 1
        last = e
      }
      k += 1
    }
    if (last > 0) out += last
    new GenericArrayData(out.toArray)
  }
}

/** Native codegen'd greedy chunker over a string column. Sequential
  * per-document state (open-chunk start and the running unit scan)
  * has no builtin composition — the same HOF→kernel promotion as
  * [[Lz78PhraseCount]]: one static call inside whole-stage codegen,
  * interpreted fallback sharing the identical kernel.
  */
object GreedyChunkEnds extends Kernel("greedy_chunk_ends", 1, Seq("max chunk chars")) {
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] = t.head match {
    case StringType if s(0) > 0 =>
      Right("GreedyChunkKernel.chunkEnds" -> ArrayType(IntegerType, containsNull = false))
    case StringType => Left(s"greedy_chunk_ends needs maxChars > 0, got ${s(0)}")
    case other => Left(s"greedy_chunk_ends needs a string child, got $other")
  }

  /** Column-API entry point. */
  def apply(a: Column, maxChars: Int): Column = call(Seq(a), maxChars)
}
