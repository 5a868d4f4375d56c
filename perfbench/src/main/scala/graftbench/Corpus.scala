package graftbench

import java.nio.file.{Files, Path}

import graft.Tables
import graft.operators.{BpeTrainer, Dedup, Sampling, TextAnalysis}
import graft.sources.CorpusIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `clean_corpus`: the five stages of graft's cleaning pipeline
  * (`graft.examples.PipelineDemo`) over a generated corpus, each stage
  * handing a materialized corpus directory to the next:
  *
  *   Gopher gate → document dedup → duplicate-span removal →
  *   BPE encode (trained on the cleaned corpus) → sequence packing
  *
  * Set-up is ingesting the raw JSONL crawl into the first corpus
  * directory (`CorpusIngest`), [[Ctx.setups]] times. Then one cold,
  * unmeasured pass, and the measured window: one more unmeasured pass,
  * then timed passes, at least [[minPasses]], whose median is reported.
  * Every pass writes new directories, so memos keyed by directory are
  * rebuilt and each pass does the whole job. Every pass's stage counts
  * are checked against recorded values.
  */
object CleanCorpus {
  val stages: Seq[String] = Seq("gopher", "dedup", "spanclean", "bpe", "pack")

  /** Timed passes at least, per untraced window. */
  val minPasses = 3

  /** Counts one pass yields, in order: documents in, after the gate,
    * after dedup, after span removal, characters removed, tokens,
    * packed sequences.
    */
  val countNames: Seq[String] = Seq("docs_in", "gated", "survivors", "cleaned",
    "chars_removed", "tokens", "sequences")

  def run(c: Ctx): Outcome = {
    val n = if (c.small) 200 else 300
    val root = c.dir("corpus")
    val raw = root.resolve("raw.jsonl")
    Files.writeString(raw, TableGen.documentsJsonl(n, c.seed))
    val setup = (1 to Ctx.setups).map { i =>
      Stats.timed(ingest(c.spark, raw, root.resolve(s"ingest$i")))._2
    }
    val src = root.resolve(s"ingest${Ctx.setups}").toString
    val expected = Expected.section("clean_corpus", c.small)

    var passNo = 0
    var attempted = 0L
    var failed = 0L
    var observed = Map.empty[String, Any]
    def runPass(): (Double, Seq[Double], Seq[Long]) = {
      passNo += 1
      val out = root.resolve(s"pass$passNo")
      val (r, s) = Stats.timed(Trace.span("pass", "bench")(pass(c.spark, src, out)))
      FsOps.deleteTree(out)
      val (stageS, counts) = r
      observed = countNames.zip(counts).toMap
      attempted += 1
      if (countNames.zip(counts).exists { case (k, v) => expected.get(k).forall(_ != v.toString) })
        failed += 1
      (s, stageS, counts)
    }

    val (coldS, _, counts) = runPass()
    val halves = c.halves.map { case (traced, seconds) =>
      if (traced) Trace.start(c.spark)
      val before = Trace.sparkNow(c.spark)
      val t0 = System.nanoTime()
      // the JIT is still compiling through the first passes after the
      // cold one, so an untraced window opens with an untimed pass
      if (!traced) runPass()
      val passes = Seq.newBuilder[(Double, Seq[Double])]
      // a traced run's halves give per-layer figures, not the headline,
      // and need only one pass each
      val least = if (c.trace) 1 else minPasses
      var k = 0
      while (k < least || Stats.secondsSince(t0) < seconds) {
        k += 1
        val (s, st, _) = runPass()
        passes += (s -> st)
      }
      (traced, passes.result(), Trace.delta(Trace.sparkNow(c.spark), before))
    }
    Expected.record("clean_corpus", c.small, observed)
    val (mixAttempted, mixFailed, mixLayer) =
      if (c.trace) QueryMix.rowsTraced(c, QueryMix.corpusRows)
      else (0L, 0L, Map.empty[String, Double])

    val plain = halves.head._2.map(_._1)
    val e2e = Map(
      "setup_s" -> Stats.median(setup),
      "latency_p50_ms" -> Stats.median(plain) * 1000,
      "throughput_per_s" -> n / Stats.median(plain))
    val layer = halves.find(_._1).map { case (_, ps, spark) =>
      val flow = Seq(counts(0) -> counts(1), counts(1) -> counts(2),
        counts(2) -> counts(3), counts(3) -> counts(5), counts(5) -> counts(6))
      stages.zipWithIndex.flatMap { case (st, i) =>
        Seq(s"corpus.${st}_s" -> Stats.median(ps.map(_._2(i))),
          s"corpus.$st.rows_in" -> flow(i)._1.toDouble,
          s"corpus.$st.rows_out" -> flow(i)._2.toDouble)
      }.toMap ++ mixLayer ++ Layers.spark(spark) + ("run.cold_s" -> coldS) +
        ("trace.overhead_pct" -> 100 * (Stats.median(ps.map(_._1)) / Stats.median(plain) - 1))
    }.getOrElse(Map.empty)
    Outcome(attempted + mixAttempted, failed + mixFailed, e2e, Layers.complete(layer),
      Seq("docs" -> n, "passes_s" -> plain, "cold_pass_s" -> coldS,
        "counts" -> countNames.zip(counts).toMap, "setup_runs_s" -> setup))
  }

  /** Raw JSONL → clean corpus directory; returns the document count. */
  def ingest(spark: SparkSession, raw: Path, out: Path): Long = {
    val docs = CorpusIngest.clean(
      CorpusIngest.readJsonl(spark, raw.toString, TableGen.docSchema))
      .select(TableGen.docSchema.fieldNames.map(col).toIndexedSeq: _*)
    docs.write.parquet(out.resolve("documents.parquet").toString)
    Tables(spark, out.toString, "documents").count()
  }

  /** Re-materialize (doc_id, text) as a corpus directory, carrying lang
    * and source through from the stage input.
    */
  private def writeCorpus(spark: SparkSession, inDir: String,
                          kept: DataFrame, outDir: String): Long = {
    Tables(spark, inDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
      .join(kept, "doc_id")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.parquet(s"$outDir/documents.parquet")
    spark.read.parquet(s"$outDir/documents.parquet").count()
  }

  /** One pass; returns per-stage seconds and the [[countNames]] counts. */
  def pass(spark: SparkSession, src: String, out: Path): (Seq[Double], Seq[Long]) = {
    val total = Tables(spark, src, "documents").count()
    def stage[T](name: String)(body: => T): (T, Double) =
      Stats.timed(Trace.span(name, "corpus")(body))

    val d1 = out.resolve("s1_gated").toString
    val (n1, s1) = stage("gopher") {
      val gated = TextAnalysis.gopherRules(spark, src)
        .filter(col("gopher_pass")).select("doc_id")
        .join(Tables(spark, src, "documents"), "doc_id")
        .select(col("doc_id"), col("text"))
      writeCorpus(spark, src, gated, d1)
    }
    val d2 = out.resolve("s2_survivors").toString
    val (n2, s2) = stage("dedup") {
      val survivors = Dedup.survivors(spark, d1)
        .join(Tables(spark, d1, "documents"), "doc_id")
        .select(col("doc_id"), col("text"))
      writeCorpus(spark, d1, survivors, d2)
    }
    val d3 = out.resolve("s3_spanclean").toString
    val ((n3, removed), s3) = stage("spanclean") {
      val sc = Dedup.spanClean(spark, d2).localCheckpoint(true)
      val removed = sc.agg(sum("n_chars_removed")).head().getLong(0)
      (writeCorpus(spark, d2,
        sc.select(col("doc_id"), col("clean_text").as("text")), d3), removed)
    }
    val (tokens, s4) = stage("bpe") {
      BpeTrainer.encode(spark, d3).agg(sum("n_tokens")).head().getLong(0)
    }
    val (bins, s5) = stage("pack") {
      Sampling.packSequences(spark, d3).count()
    }
    (Seq(s1, s2, s3, s4, s5), Seq(total, n1, n2, n3, removed, tokens, bins))
  }
}
