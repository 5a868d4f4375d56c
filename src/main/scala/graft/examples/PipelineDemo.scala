package graft.examples

import graft.Tables
import graft.operators.{BpeTrainer, Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end TRAINING-DATA pipeline walkthrough — the composition a
  * 100 TB cleaning run actually executes, stage by stage, each stage a
  * library operator and each hand-off a materialized corpus directory
  * (the checkpoint discipline a production pipeline uses so any stage
  * can restart without upstream recompute):
  *
  *   raw corpus
  *     → Gopher rule gate           (TextAnalysis.gopherRules)
  *     → document-level dedup       (Dedup.survivors)
  *     → duplicate-span removal     (Dedup.dupSpans → Dedup.spanClean;
  *                                   AFTER doc dedup — span removal is
  *                                   the aggressive all-occurrence cut,
  *                                   so whole-doc duplicates must
  *                                   collapse to one copy first or both
  *                                   copies would be excised)
  *     → BPE tokenization           (BpeTrainer.encode, trained on the
  *                                   cleaned corpus itself)
  *     → greedy sequence packing    (Sampling.packSequences)
  *
  *   sbt "runMain graft.examples.PipelineDemo /tmp/pipeline-demo"
  */
object PipelineDemo {

  /** Re-materialize a (doc_id, text) view as a corpus directory with
    * the standard documents schema, carrying lang/source through from
    * the stage input.
    */
  private def writeCorpus(spark: SparkSession, inDir: String,
      kept: DataFrame, outDir: String): Long = {
    val out = Tables(spark, inDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
      .join(kept, "doc_id")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    out.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    Tables(spark, outDir, "documents").count()
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/pipeline-demo")
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.LocalSession("WARN")

    val total = Tables(spark, src, "documents").count()

    // stage 1 — Gopher rule gate
    val gated = TextAnalysis.gopherRules(spark, src)
      .filter(col("gopher_pass")).select("doc_id")
      .join(Tables(spark, src, "documents"), "doc_id")
      .select(col("doc_id"), col("text"))
    val d1 = s"$out/s1_gated"
    val n1 = writeCorpus(spark, src, gated, d1)
    println(s"[pipeline] stage 1 gopher gate:   $total -> $n1 docs")

    // stage 2 — document-level dedup, quality-weighted survivors
    val survivors = Dedup.survivors(spark, d1)
      .join(Tables(spark, d1, "documents"), "doc_id")
      .select(col("doc_id"), col("text"))
    val d2 = s"$out/s2_survivors"
    val n2 = writeCorpus(spark, d1, survivors, d2)
    println(s"[pipeline] stage 2 dedup:         $n1 -> $n2 survivors")

    // stage 3 — duplicate-span removal on the deduplicated corpus
    val sc = Dedup.spanClean(spark, d2).localCheckpoint(true)
    val removed = sc.agg(sum("n_chars_removed")).head().getLong(0)
    val d3 = s"$out/s3_spanclean"
    val n3 = writeCorpus(spark, d2,
      sc.select(col("doc_id"), col("clean_text").as("text")), d3)
    println(s"[pipeline] stage 3 span removal:  $removed duplicate chars cut across $n3 docs")

    // stage 4 — tokenizer trained on the CLEANED corpus, then encode
    val enc = BpeTrainer.encode(spark, d3)
    val tokens = enc.agg(sum("n_tokens")).head().getLong(0)
    println(s"[pipeline] stage 4 tokenize:      $tokens BPE tokens over $n3 docs")

    // stage 5 — greedy sequence packing of the token counts
    val packs = Sampling.packSequences(spark, d3)
    val nBins = packs.count()
    println(s"[pipeline] stage 5 packing:       $n3 docs -> $nBins training sequences")
    spark.stop()
  }
}
