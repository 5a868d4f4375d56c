package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Pins the two round-17 ingest operators on planted fixtures the
  * ASCII test corpus cannot exercise:
  *
  *  - [[TextAnalysis.lineDedup]] (C4 rule, Raffel et al. 2020): the
  *    FIRST occurrence of a duplicated line is kept (smallest
  *    (doc_id, line_no)), duplicates are suppressed across documents
  *    and within one, a fully duplicated document reassembles to the
  *    empty string, and kept lines rejoin in original order;
  *  - [[TextAnalysis.normalizeText]]: composed and decomposed NFC
  *    pairs converge, non-whitespace controls strip (tab/newline/CR
  *    survive), U+FFFD mojibake is counted and preserved, and the
  *    pass is idempotent (re-normalizing its own output is the
  *    identity with zero strips).
  */
class LineDedupSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("linededup").toString
    rows.toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  test("C4 line dedup: first occurrence kept, cross-doc and intra-doc " +
    "suppression, whole-doc duplicate empties") {
    val dir = writeDocs(Seq(
      1L -> "a b c d e f g h i j", // two 5-word lines, both first
      2L -> "a b c d e x y z w v", // line 0 dups doc 1 → suppressed
      3L -> "a b c d e f g h i j", // whole-doc duplicate → empty
      4L -> "k l m", // short partial line, unique
      5L -> "p q r s t p q r s t")) // intra-doc dup: line 1 suppressed
    val got = TextAnalysis.lineDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) === (("a b c d e f g h i j", 2L, 2L, 0L, 0L)))
    assert(got(2L) === (("x y z w v", 2L, 1L, 1L, 9L)))
    assert(got(3L) === (("", 2L, 0L, 2L, 18L)))
    assert(got(4L) === (("k l m", 1L, 1L, 0L, 0L)))
    assert(got(5L) === (("p q r s t", 2L, 1L, 1L, 9L)))
  }

  test("C4 line dedup: kept lines reassemble in line order, not " +
    "collection order") {
    // doc 6's middle line is suppressed by doc 5's first occurrence;
    // the survivors must rejoin as (line0, line2) in that order
    val dir = writeDocs(Seq(
      5L -> "z z z z z",
      6L -> "m n o p q z z z z z r s t u v"))
    val got = TextAnalysis.lineDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(6L) === "m n o p q r s t u v")
  }

  test("planted hot line: a boilerplate line in 20% of docs dedups to " +
    "its first occurrence and rides the PROBE side of a broadcast join") {
    // round-18 verdict item 6: a line present in a large fraction of
    // documents is a skewed join key at C4 scale. The restructured
    // keep join builds on the DUPLICATED firsts only — the hot line
    // contributes ONE build row however many documents carry it, and
    // the corpus-sized probe side never shuffles for the join.
    val boiler = "subscribe to our newsletter today friend"
    val docs = (1L to 2000L).map { id =>
      val body = s"unique${id}a x$id y$id z$id w$id"
      if (id % 5 == 0L) id -> s"$boiler $body" else id -> body
    }
    val dir = writeDocs(docs)
    val out = TextAnalysis.lineDedup(spark, dir, 6)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"duplicated-firsts build side must broadcast under the budget:\n$p")
    assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"the probe side must not shuffle for the keep join:\n$p")
    val got = out.collect().map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(4)))).toMap
    assert(got.size === 2000)
    // doc 5 is the first (smallest doc_id) carrier: keeps the line
    assert(got(5L)._1.startsWith(boiler) && got(5L)._2 === 0L)
    // every later carrier loses exactly the boilerplate line
    (10L to 2000L by 5L).foreach { id =>
      assert(got(id)._1 === s"unique${id}a x$id y$id z$id w$id",
        s"doc $id must drop the boilerplate line")
      assert(got(id)._2 === 1L)
    }
    // non-carriers untouched
    assert(got(1L) === (("unique1a x1 y1 z1 w1", 0L)))

    // forced budget 0: the fallback is a shuffled HASH join (never
    // sort-merge) and stays row-identical
    val forced = TextAnalysis.lineDedup(spark, dir, 6, 0L)
    val fp = forced.queryExecution.executedPlan.toString
    assert(fp.contains("ShuffledHashJoin"), s"fallback shape:\n$fp")
    assert(!fp.contains("BroadcastHashJoin") && !fp.contains("SortMergeJoin"),
      s"no broadcast or sort-merge in the forced plan:\n$fp")
    val gotForced = forced.collect().map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(4)))).toMap
    assert(gotForced === got, "fallback shape must be row-identical")
  }

  test("incremental line dedup: merge == recompute on a planted " +
    "base/delta fixture, ModelStore-served census bit-equal, forced " +
    "fallback row-identical") {
    // cross-boundary cases the merge must get right: a base doc owns
    // the first occurrence of a delta line (delta suppressed), a delta
    // doc owns the first occurrence of a later base line (delta keeps;
    // base is not re-emitted), delta-delta duplication across docs,
    // and a delta doc fully duplicated by base (reassembles empty)
    val dir = writeDocs(Seq(
      3L -> "h e a d e r x y z w", // base: first occurrence of "h e a d e r"
      10L -> "h e a d e r p q r s", // delta: line 0 suppressed by doc 3
      20L -> "n o v e l a b c d", // delta: owns "n o v e l" first
      21L -> "n o v e l f g h i", // base AFTER the delta first: not emitted
      30L -> "d d d d d k k k k k", // delta: both lines first here
      40L -> "d d d d d k k k k k", // delta: whole-doc dup of 30 → empty
      7L -> "plain base only words here")) // base noise
    val full = TextAnalysis.lineDedup(spark, dir)
      .filter(col("doc_id") % 10 === 0).collect().map(_.toSeq)
    val incr = TextAnalysis.lineDedupIncremental(spark, dir)
    assert(incr.collect().map(_.toSeq).toSeq === full.toSeq,
      "incremental merge must equal the full recompute on delta docs")
    // sanity on the planted semantics
    val got = incr.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(10L) === "r p q r s") // line0 "h e a d e" suppressed by doc 3
    assert(got(20L) === "n o v e l a b c d")
    assert(got(30L) === "d d d d d k k k k k")
    assert(got(40L) === "")

    // ModelStore round-trip: save the BASE census, reload it
    // stamp-validated, serve the increment from the stored artifact —
    // bit-equal to the self-computed path
    val store = java.nio.file.Files.createTempDirectory("linecensus").toString
    val baseLines = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), split(trim(col("text")), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (size(ws) + 4) div 5 - 1), " +
          "i -> array_join(slice(ws, i * 5 + 1, 5), ' '))"))
        .as(Seq("p", "line")))
      .select(col("doc_id"), col("p").cast("long").as("line_no"), col("line"))
    ModelStore.save(spark, store, ModelStore.lineCensus("base"), dir,
      TextAnalysis.lineCensus(baseLines))
    val served = TextAnalysis.lineDedupIncremental(spark, dir,
      TextAnalysis.lineWords, TextAnalysis.maxBroadcastDupLines,
      Some(ModelStore.load(spark, store, ModelStore.lineCensus("base"), dir)))
    assert(served.collect().map(_.toSeq).toSeq === full.toSeq,
      "the ModelStore-served census must reproduce the recompute")

    // forced budget 0: every guarded join takes the shuffled-hash
    // fallback and the output is row-identical
    val forced = TextAnalysis.lineDedupIncremental(spark, dir,
      TextAnalysis.lineWords, 0L, None)
    val fp = forced.queryExecution.executedPlan.toString
    assert(fp.contains("ShuffledHashJoin") && !fp.contains("BroadcastHashJoin")
      && !fp.contains("SortMergeJoin"), s"forced fallback shape:\n$fp")
    assert(forced.collect().map(_.toSeq).toSeq === full.toSeq)
  }

  test("normalize: composed and decomposed NFC pairs converge; changed " +
    "flags only the rewritten doc") {
    val dir = writeDocs(Seq(
      1L -> "café", // already NFC
      2L -> "café")) // decomposed: e + combining acute
    val got = TextAnalysis.normalizeText(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === (("café", 0L, 0L, 0L)))
    assert(got(2L) === (("café", 0L, 0L, 1L)))
  }

  test("normalize: controls strip except tab/newline/CR; mojibake " +
    "counted and preserved") {
    val dir = writeDocs(Seq(
      1L -> "a\u0001bc\u000B\nd\u000C\te\u007F\rf",
      2L -> "x�y�"))
    val got = TextAnalysis.normalizeText(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === (("abc\nd\te\rf", 4L, 0L, 1L)))
    assert(got(2L) === (("x�y�", 0L, 2L, 0L)))
  }

  test("streamingNormalize matches the batch pass per row across waves") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = TextAnalysis.normalizeText(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = TextAnalysis.streamingNormalize(
        in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("normgate").start()
    try {
      val (w1, w2) = docs.splitAt(docs.length / 2)
      in.addData(w1.toSeq); q.processAllAvailable()
      // wave 2 carries a planted decomposed-NFC + control + mojibake doc
      in.addData(w2.toSeq :+ (999999999L, "cafe\u0301 x\u0001 \uFFFD"))
      q.processAllAvailable()
      val got = spark.table("normgate").collect()
        .map(r => r.getLong(0) -> r.toSeq).toMap
      assert(got.keySet === batch.keySet + 999999999L)
      batch.foreach { case (id, row) =>
        assert(got(id) === row, s"doc $id diverges from the batch pass")
      }
      assert(got(999999999L) === Seq(999999999L, "caf\u00e9 x \uFFFD", 1L, 1L, 1L))
    } finally q.stop()
  }

  test("normalize is idempotent: its own output re-normalizes to " +
    "itself with zero strips") {
    val dir = writeDocs(Seq(
      1L -> "café société",
      2L -> "ab plain ascii"))
    val first = TextAnalysis.normalizeText(spark, dir)
      .select(col("doc_id"), col("norm_text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dir2 = writeDocs(first.toSeq.map { case (id, t) => id -> t })
    val second = TextAnalysis.normalizeText(spark, dir2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(4)))
    second.foreach { case (id, t, stripped, changed) =>
      assert(t === first.find(_._1 == id).get._2)
      assert(stripped === 0L && changed === 0L,
        s"doc $id must be a fixed point")
    }
  }
}
