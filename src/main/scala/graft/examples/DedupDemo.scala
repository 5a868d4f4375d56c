package graft.examples

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.CorpusIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** End-to-end corpus-cleaning walkthrough — the dedup counterpart to
  * [[CdcDemo]]: raw JSONL (with a corrupt line) → schema-declared
  * ingest + dead-letter → quality gate → MinHash-LSH candidate pairs →
  * connected-component clusters → quality-weighted survivors → cleaned
  * corpus on disk. Every stage is the same operator the library exposes
  * individually; the demo is just their composition.
  *
  *   sbt "runMain graft.examples.DedupDemo /tmp/dedup-demo"
  */
object DedupDemo {

  val corpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  /** Deterministic fixture: clusters of near-identical docs (small
    * edits), exact duplicates, unique docs, and one corrupt line.
    */
  private[graft] def fixtureLines: Seq[String] = {
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "busy spider spins a careful web across the quiet garden fence"
    val variants = Seq(
      base,
      base.replace("quiet", "silent"), // near-dup of base
      base.replace("careful", "delicate"), // near-dup of base
      base, // exact dup of base
      "completely different content about distributed query engines " +
        "and the cost of shuffling data between executor processes",
      "yet another unique document mentioning columnar storage and " +
        "vectorized execution with late materialization of strings")
    val rows = variants.zipWithIndex.map { case (t, i) =>
      s"""{"doc_id": $i, "text": "$t", "lang": "en", "source": "crawl"}"""
    }
    rows :+ """{"doc_id": 6, "text": "truncated...""" // corrupt line
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-dedup-demo").toString)
    val spark = graft.LocalSession("WARN")
    import spark.implicits._

    // 1. land raw JSONL, ingest with the DECLARED schema, quarantine
    //    the corrupt line instead of dropping or failing
    val rawPath = s"$root/raw"
    fixtureLines.toDF("value").coalesce(1).write.mode("overwrite").text(rawPath)
    val ingested = CorpusIngest.readJsonl(spark, rawPath, corpusSchema)
    val clean = CorpusIngest.clean(ingested)
    val dead = CorpusIngest.deadLetter(ingested)
    println(s"[demo] ingested=${ingested.count()} clean=${clean.count()} " +
      s"dead-letter=${dead.count()}")

    // 2. lay the clean rows out as the documents table every corpus
    //    operator consumes (path-shaped like /root/testdata)
    val tableDir = s"$root/tables"
    clean.withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tableDir/documents.parquet")

    // 3. dedup: LSH candidate pairs → clusters → quality survivors
    val pairs = Dedup.lshCandidatePairs(spark, tableDir)
    println(s"[demo] LSH candidate pairs: ${pairs.count()}")
    pairs.show(20, truncate = false)
    val survivors = Dedup.survivors(spark, tableDir)
    println(s"[demo] survivors: ${survivors.count()} of ${clean.count()}")

    // 4. cleaned corpus + per-doc quality report written out
    val docs = graft.Tables(spark, tableDir, "documents")
    docs.join(survivors, "doc_id")
      .write.mode("overwrite").parquet(s"$root/cleaned/documents.parquet")
    TextAnalysis.qualityScores(spark, tableDir)
      .write.mode("overwrite").parquet(s"$root/cleaned/quality.parquet")
    val kept = spark.read.parquet(s"$root/cleaned/documents.parquet")
    println(s"[demo] cleaned corpus rows: ${kept.count()} at $root/cleaned")
    kept.select("doc_id", "lang", "n_chars").orderBy("doc_id")
      .show(20, truncate = false)
    spark.stop()
  }
}
