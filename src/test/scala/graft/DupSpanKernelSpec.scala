package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** [[Dedup.dupSpans]] / [[Dedup.spanClean]] build their islands with one
  * native call per document ([[graft.functions.DupSpanIslands]],
  * [[graft.functions.CutDupSpans]]). Each edge case below is compared
  * with the window formulation they replaced — a lag window, a
  * running-sum island id, a regroup, and an ordered `aggregate` cut —
  * kept here as the reference.
  */
class DupSpanKernelSpec extends SparkSpec {

  /** The window formulation of duplicate spans. */
  private def refSpans(dir: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val windows = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHashes.of(col("text"), k))
          .as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("h"))
    val flagged = windows
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c") >= 2)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") <= k, 0)
          .otherwise(1))
      .withColumn("g", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k - 1).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_windows"))
      .orderBy("doc_id", "span_start")
  }

  /** The ordered-fold cut of duplicate spans. */
  private def refClean(dir: String, k: Int): DataFrame = {
    val spans = refSpans(dir, k)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("spans"))
    Tables(spark, dir, "documents")
      .join(spans, Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("spans").isNull, col("text")).otherwise(
          aggregate(
            col("spans"),
            struct(lit("").cast("string").as("acc"), lit(1L).as("cur")),
            (st, sp) => struct(
              concat(st.getField("acc"),
                col("text").substr(st.getField("cur").cast("int"),
                  (sp.getField("s") - st.getField("cur")).cast("int"))).as("acc"),
              (sp.getField("e") + 1L).as("cur")),
            st => concat(st.getField("acc"),
              col("text").substr(st.getField("cur").cast("int"),
                greatest(lit(0),
                  length(col("text")) - st.getField("cur") + 1).cast("int"))))))
      .select(col("doc_id"), col("clean_text"),
        (length(col("text")) - length(col("clean_text"))).cast("long")
          .as("n_chars_removed"))
      .orderBy("doc_id")
  }

  private def corpus(texts: String*): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dupspan-kernel").toString
    texts.zipWithIndex.map { case (t, i) => (i + 1L, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  /** Spans sorted by (doc, start): dupSpans emits documents unordered. */
  private def spans(dir: String, k: Int): Seq[(Long, Long, Long, Long, Long)] =
    Dedup.dupSpans(spark, dir, k).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(s => (s._1, s._2))

  /** Kernel == reference for both operators; returns the kernel's spans
    * and cleaned texts for case-specific assertions.
    */
  private def check(k: Int, texts: String*)
      : (Seq[(Long, Long, Long, Long, Long)], Map[Long, (String, Long)]) = {
    val dir = corpus(texts: _*)
    val got = spans(dir, k)
    val want = refSpans(dir, k).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got === want, s"dupSpans, k=$k, texts=$texts")
    val clean = Dedup.spanClean(spark, dir, k).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val refC = refClean(dir, k).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(clean === refC, s"spanClean, k=$k, texts=$texts")
    (got, clean.map(c => c._1 -> (c._2, c._3)).toMap)
  }

  test("a gap of exactly k joins two windows; k + 1 splits them") {
    // "abcd" at 1 and 5: the two windows touch — one span 1..8
    val (touch, _) = check(4, "abcdabcd", "wxyz")
    assert(touch === Seq((1L, 1L, 8L, 8L, 2L)))
    // "abcd" at 1 and 6: code point 5 ('e') is uncovered — two spans
    val (split, clean) = check(4, "abcdeabcd", "wxyz")
    assert(split === Seq((1L, 1L, 4L, 4L, 1L), (1L, 6L, 9L, 4L, 1L)))
    assert(clean(1L) === ("e", 8L))
  }

  test("overlapping windows, a span at the text's end, and a repeat-free doc") {
    // "abcde" shared: windows at 3, 4 (doc 1) and 1, 2 (doc 2) overlap
    val (sp, clean) = check(4, "xyabcde", "abcdefg", "mnopqrs")
    assert(sp === Seq((1L, 3L, 7L, 5L, 2L), (2L, 1L, 5L, 5L, 2L)))
    assert(clean(1L) === ("xy", 5L), "a span ending at the text's end")
    assert(clean(2L) === ("fg", 5L))
    assert(clean(3L) === ("mnopqrs", 0L), "a doc with no repeats passes through")
  }

  test("repetition within one document") {
    val (sp, clean) = check(3, "abcXabcYabc", "zzqw")
    assert(sp === Seq((1L, 1L, 3L, 3L, 1L), (1L, 5L, 7L, 3L, 1L), (1L, 9L, 11L, 3L, 1L)))
    assert(clean(1L) === ("XY", 9L))
  }

  test("a surrogate pair before a span is one code point") {
    val grin = new String(Character.toChars(0x1F600))
    val (sp, clean) = check(4, s"${grin}x${grin}abcdef", "qrabcdef")
    // doc 1: grin, x, grin occupy code points 1..3; "abcdef" is 4..9
    assert(sp.filter(_._1 == 1L) === Seq((1L, 4L, 9L, 6L, 3L)))
    assert(clean(1L) === (s"${grin}x$grin", 6L))
    assert(clean(2L) === ("qr", 6L))
  }

  test("random small-alphabet corpora: kernel == window formulation") {
    val grin = new String(Character.toChars(0x1F600))
    val alphabet = Seq("a", "b", "c", " ", grin)
    val rnd = new scala.util.Random(7)
    (1 to 4).foreach { round =>
      val k = 3 + round % 3
      val texts = (1 to 6).map { _ =>
        Seq.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.size))).mkString
      }
      check(k, texts: _*)
    }
  }
}
