package graft.examples

import graft.operators.{IvfPq, Pq, Similarity}
import org.apache.spark.sql.functions._

/** End-to-end similarity-search walkthrough — the ANN counterpart to
  * [[CdcDemo]] and [[DedupDemo]]: train the IVF cells and PQ codebooks
  * on the sf0.001 embeddings, encode the corpus (32× compression),
  * search it three ways (trained-cell IVF, PQ with exact re-rank, and
  * the composed IVF-PQ), and print each method's measured recall next
  * to the brute-force truth. Every stage is the same operator the
  * library exposes individually; the demo is just their composition.
  *
  *   sbt "runMain graft.examples.AnnDemo"
  */
object AnnDemo {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.LocalSession("WARN")

    val n = graft.Tables(spark, dir, "embeddings").count()
    val cells = Similarity.trainedCentroids(spark, dir)
    println(s"[demo] corpus: $n vectors; trained ${cells.size} IVF cells")

    val codebook = Pq.trainedCodebook(spark, dir)
    val codes = Pq.pqCodes(spark, dir)
    val meanErr = codes.agg(avg("qerr")).head.getDouble(0)
    println(f"[demo] PQ codebook: ${codebook.size} entries " +
      f"(${Pq.numSubspaces} subspaces x <=${Pq.codebookSize}); " +
      f"encoded ${codes.count()} codes, mean quantization error $meanErr%.4f")

    val ivf = Similarity.ivfRecall(spark, dir).head
    println(f"[demo] IVF     nprobe=2      recall@3 = ${ivf.getDouble(2)}%.3f " +
      s"over ${ivf.getLong(1)} queries")
    val pq = Pq.pqRecall(spark, dir).head
    println(f"[demo] PQ      adc/re-rank   recall@3 = ${pq.getDouble(2)}%.3f / " +
      f"${pq.getDouble(3)}%.3f over ${pq.getLong(1)} queries")
    val ivfpq = IvfPq.ivfPqRecall(spark, dir).head
    println(f"[demo] IVF-PQ  adc/re-rank   recall@3 = ${ivfpq.getDouble(2)}%.3f / " +
      f"${ivfpq.getDouble(3)}%.3f over ${ivfpq.getLong(1)} queries")

    // production-width PQ (K=256, byte-packed) + the packed-LUT scan:
    // same shortlist as the SQL join form, scan-form speedup benched
    val k256 = Pq.pqRecallAtK(spark, dir, Pq.productionCodebookSize).head
    println(f"[demo] PQ K=256 adc/re-rank  recall@3 = ${k256.getDouble(2)}%.3f / " +
      f"${k256.getDouble(3)}%.3f over ${k256.getLong(1)} queries")
    val packed = Pq.pqAdcPacked(spark, dir).count()
    println(s"[demo] packed-LUT ADC shortlist: $packed rows " +
      "(row-exact with the join form, spec-pinned)")

    // production index build: scalar mapPartitions encode + plain-avg
    // training, byte-packed output (bit-equal to the certified path)
    val built = Pq.pqBuildProd(spark, dir).count()
    println(s"[demo] production PQ build: $built packed code words " +
      "(scalar encode, plain-avg training — no join fan-out, no per-member fold)")

    // two-level IVF: distributed level-2 cells, no driver-side cap
    val idx = graft.operators.IvfTwoLevel.buildIndex(spark, dir)
    val buckets = idx.select("cell", "sub").distinct().count()
    println(s"[demo] two-level IVF: ${cells.size} coarse cells -> " +
      s"$buckets (cell, sub) buckets, level-2 table never collected")

    // SRP cosine LSH: one-pass signature index, banded candidate pairs
    // with exact-cosine verify, incremental shard-vs-index dedup
    import graft.operators.RandomProjection
    val nSigs = RandomProjection.signatures(spark, dir).count()
    val nPairs = RandomProjection.pairs(spark, dir).count()
    val inc = RandomProjection.incremental(spark, dir)
    println(s"[demo] SRP LSH: $nSigs 32-bit signatures (map-only), " +
      s"$nPairs verified near-dup pairs; incremental shard check: " +
      s"${inc.count()} new vectors, ${inc.filter(col("is_dup")).count()} " +
      "duplicate-flagged against the stored index")

    // JL two-stage search: 16-dim shortlist scan, exact re-rank
    val jl = RandomProjection.jlRecall(spark, dir).head
    println(f"[demo] JL 16-dim shortlist+re-rank recall@3 = " +
      f"${jl.getDouble(2)}%.3f over ${jl.getLong(1)} queries " +
      "(4x fewer mult-adds per scanned candidate)")

    // matryoshka truncation: prefix-16 serving quality + where the
    // variance actually lives
    import graft.operators.Quantize
    val mrl = Quantize.mrlOverlap(spark, dir).head
    val prefixShare = Quantize.dimVariance(spark, dir)
      .filter(col("dim") === (Quantize.mrlDim - 1).toLong)
      .head.getAs[Double]("cum_share")
    println(f"[demo] MRL prefix-${Quantize.mrlDim} overlap@10 = " +
      f"${mrl.getDouble(2)}%.3f over ${mrl.getLong(1)} queries; " +
      f"first ${Quantize.mrlDim} dims hold ${prefixShare * 100}%.1f%% " +
      "of corpus variance (isotropic corpus - the audit explains the overlap)")

    spark.stop()
  }
}
