package graft

import graft.operators.{BpeTrainer, Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The PipelineDemo composition on a deterministic fixture: the gate
  * drops the rule-violating doc, span removal cuts the planted
  * duplicate passage, dedup collapses the exact pair, and the cleaned
  * corpus tokenizes losslessly — every stage the same library operator
  * the demo chains, with materialized corpus hand-offs.
  */
class PipelineDemoSpec extends SparkSpec {

  private def writeDocs(dir: String,
      rows: Seq[(Long, String, String, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }

  test("gate → dedup → span-clean → tokenize composes over materialized hand-offs") {
    // gate-passing fillers (60 words, mean word length ≥ 3, two stop
    // words) with a UNIQUE token every ~17 characters, so no 32-char
    // window repeats within or across docs — only the planted passage
    // (and the exact doc pair) duplicates
    def filler(i: Int) =
      (1 to 15).map(j => s"the t${i}q$j fox of").mkString(" ")
    val planted = "this exact passage repeats across two documents"
    val docs = Seq(
      (1L, s"${filler(1)} $planted", "en", "s"),
      (2L, s"$planted ${filler(2)}", "en", "s"),
      (3L, filler(3), "en", "s"),
      (4L, filler(3), "en", "s"), // exact duplicate of 3 → dedup collapses
      (5L, (1 to 60).map(_ => "12345").mkString(" "), "en", "s")) // fails gate
    val root = java.nio.file.Files.createTempDirectory("pipe-spec").toString
    writeDocs(s"$root/s0", docs)

    // stage 1: the digit doc fails alpha/stop rules
    val gated = TextAnalysis.gopherRules(spark, s"$root/s0")
      .filter(col("gopher_pass")).collect().map(_.getLong(0)).toSet
    assert(gated === Set(1L, 2L, 3L, 4L))
    writeDocs(s"$root/s1", docs.filter(d => gated(d._1)))

    // stage 2: the exact pair collapses to one survivor BEFORE span
    // removal (else both copies would be excised as mutual duplicates)
    val survivors = Dedup.survivors(spark, s"$root/s1").collect()
      .map(_.getLong(0)).toSet
    assert((survivors & Set(3L, 4L)).size === 1, "the exact pair must collapse")
    assert(survivors.size === 3)
    writeDocs(s"$root/s2", docs.filter(d => survivors(d._1)))

    // stage 3: the planted passage is now the only cross-doc repeat —
    // cut from both carriers; the filler prose survives intact
    val cleaned = Dedup.spanClean(spark, s"$root/s2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byId = cleaned.map(c => c._1 -> c).toMap
    assert(!byId(1L)._2.contains(planted) && !byId(2L)._2.contains(planted),
      "the planted passage must be cut from both docs")
    assert(byId(1L)._2.contains("t1q1") && byId(2L)._2.contains("t2q1"),
      "unique prose must survive")
    val survivorOwl = (survivors & Set(3L, 4L)).head
    assert(byId(survivorOwl)._3 === 0L, "the deduped lone copy has nothing to cut")
    writeDocs(s"$root/s3", docs.filter(d => survivors(d._1))
      .map(d => (d._1, byId(d._1)._2, d._3, d._4)))

    // stage 4: tokenization of the final corpus is lossless
    val enc = BpeTrainer.encode(spark, s"$root/s3").collect()
    assert(enc.length === survivors.size)
    enc.foreach { r =>
      assert(r.getLong(1) === r.getString(2).split(" ").length.toLong)
    }
  }

  /** Upper bound on the Spark jobs one PipelineDemo pass submits over
    * the fixture below (45 when recorded; 67 before the footer schema
    * read, the observed gate counts and the native span kernel).
    */
  private val passJobBudget = 45

  test("one five-stage pass: no schema-inference job, job count pinned") {
    def filler(i: Int) =
      (1 to 15).map(j => s"the t${i}q$j fox of").mkString(" ")
    val planted = "this exact passage repeats across two documents"
    val root = java.nio.file.Files.createTempDirectory("pipe-jobs").toString
    writeDocs(s"$root/s0", Seq(
      (1L, s"${filler(1)} $planted", "en", "s"),
      (2L, s"$planted ${filler(2)}", "en", "s"),
      (3L, filler(3), "en", "s"),
      (4L, filler(3), "en", "s"),
      (5L, (1 to 60).map(_ => "12345").mkString(" "), "en", "s")))

    // the demo's hand-off: (doc_id, text) back to a corpus directory
    def writeCorpus(inDir: String, kept: DataFrame, outDir: String): Long = {
      Tables(spark, inDir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
        .join(kept, "doc_id")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      spark.read.parquet(s"$outDir/documents.parquet").count()
    }

    val (counts, pass) = Profile(spark) {
      val src = s"$root/s0"
      val total = Tables(spark, src, "documents").count()
      val gated = TextAnalysis.gopherRules(spark, src)
        .filter(col("gopher_pass")).select("doc_id")
        .join(Tables(spark, src, "documents"), "doc_id")
        .select(col("doc_id"), col("text"))
      val n1 = writeCorpus(src, gated, s"$root/s1")
      val survivors = Dedup.survivors(spark, s"$root/s1")
        .join(Tables(spark, s"$root/s1", "documents"), "doc_id")
        .select(col("doc_id"), col("text"))
      val n2 = writeCorpus(s"$root/s1", survivors, s"$root/s2")
      val cleaned = Dedup.spanClean(spark, s"$root/s2").localCheckpoint(true)
      val removed = cleaned.agg(sum("n_chars_removed")).head().getLong(0)
      val n3 = writeCorpus(s"$root/s2",
        cleaned.select(col("doc_id"), col("clean_text").as("text")), s"$root/s3")
      val tokens = BpeTrainer.encode(spark, s"$root/s3")
        .agg(sum("n_tokens")).head().getLong(0)
      val bins = Sampling.packSequences(spark, s"$root/s3").count()
      Seq(total, n1, n2, n3, removed, tokens, bins)
    }
    assert(counts.take(4) === Seq(5L, 4L, 3L, 3L))
    assert(counts(4) === 2L * planted.length)
    val names = pass.stageNames
    assert(!names.exists(_.startsWith("parquet at Tables")),
      names.filter(_.startsWith("parquet at Tables")).mkString(", "))
    assert(pass.jobs <= passJobBudget,
      s"${pass.jobs} jobs > $passJobBudget; stages: ${names.mkString(", ")}")
  }
}
