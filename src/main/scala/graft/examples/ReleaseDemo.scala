package graft.examples

import graft.DataVersion
import graft.operators.{Dedup, Manifest}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** End-to-end corpus RELEASE — the artifact a data team actually ships
  * after a dedup rollout, composed from operators certified
  * individually elsewhere (nothing here computes anything new):
  *
  *  1. LSH candidate pairs → connected-component clusters →
  *     quality-weighted survivors ([[graft.operators.Dedup.survivors]],
  *     oracle-certified as `dedup_survivors`);
  *  2. the DEDUPLICATED corpus written to the release directory;
  *  3. the release-notes impact table (`dedup_impact` — per
  *     cluster-size bucket, docs and TOKENS removed);
  *  4. the release manifest row (row count + order-insensitive
  *     checksum, the `q_corpus_manifest` encoding) over the corpus AS
  *     WRITTEN — re-read from disk, so the manifest certifies the
  *     artifact, not the plan that produced it;
  *  5. the [[graft.DataVersion]] fingerprint stamp a downstream
  *     training job pins its model-store artifacts against.
  *
  * Default corpus is the ×10 scale-rehearsal image (`scale10/`) when
  * present — the demo IS the "would this hold a decade up" argument in
  * executable form — else sf0.1.
  *
  *   sbt "runMain graft.examples.ReleaseDemo [corpusDir] [outDir]"
  */
object ReleaseDemo {
  def main(args: Array[String]): Unit = {
    val defaultCorpus =
      if (new java.io.File("/root/repo/scale10/documents.parquet").exists())
        "/root/repo/scale10"
      else "/root/testdata/sf0.1"
    val corpus = args.headOption.getOrElse(defaultCorpus)
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-release").toString
    val spark = graft.LocalSession("WARN")

    val docs = graft.Tables(spark, corpus, "documents")
    val nDocs = docs.count()
    println(s"[demo] corpus $corpus: $nDocs documents")

    // 1. survivors (highest-quality member per duplicate cluster)
    val keep = Dedup.survivors(spark, corpus)
    val nKeep = keep.count()
    println(s"[demo] survivors: $nKeep of $nDocs " +
      f"(${100.0 * nKeep / nDocs}%.1f%% kept)")

    // 2. the released corpus — survivors only, all columns preserved
    docs.join(keep, Seq("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")

    // 3. release notes: what the rollout removed, by cluster size
    println("[demo] impact (size_bucket, clusters, docs, removed_docs, removed_tokens):")
    Dedup.dedupImpact(spark, corpus).collect().foreach { r =>
      println(s"[demo]   ${r.toSeq.mkString("  ")}")
    }

    // 4. manifest over the artifact AS WRITTEN (re-read from disk)
    val released = spark.read.parquet(s"$out/documents.parquet")
    val manifest = Manifest.manifestOf(released, "documents",
      Manifest.spec.toMap.apply("documents"))
    manifest.write.mode(SaveMode.Overwrite).parquet(s"$out/_manifest.parquet")
    val m = manifest.collect().head
    println(s"[demo] manifest: table=${m.getString(0)} rows=${m.getLong(1)} " +
      s"checksum=${m.getLong(2)}")

    // 5. the content-version stamp downstream jobs pin against
    val stamp = DataVersion.fingerprint(out, "documents")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/_data_version.txt"), stamp + "\n")
    println(s"[demo] data-version stamp: $stamp")
    println(s"[demo] release written to $out")
    spark.stop()
  }
}
