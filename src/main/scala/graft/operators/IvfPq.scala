package graft.operators

import graft.Tables
import graft.functions.DotProductD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ — the combined index both halves were built for: the trained
  * IVF cells ([[Similarity]], k = ⌈√N⌉, top-2-cell probing) restrict
  * the candidate set to O(nprobe·√N) per query, and the trained PQ
  * codebooks ([[Pq]]) score those candidates in the compressed domain
  * (ADC), with exact re-ranking of the shortlist. This is the
  * billion-scale ANN architecture: cells bound the scan, codes bound
  * the bytes per candidate, exact arithmetic touches only a
  * constant-size shortlist.
  *
  * Both model artifacts are the memoized driver-side trainings the
  * standalone rows already certify (`ann_ivf*`, `ann_pq*`); this row
  * certifies their COMPOSITION — every stage deterministic, the DuckDB
  * oracle replaying cell training, codebook training, probing, ADC,
  * and re-rank end-to-end.
  *
  * Truth metric: exact squared-L2 argmin (the quantity ADC
  * approximates), over the same fixed-size query sample as the IVF
  * rows ([[Similarity.annQuerySampleSize]] smallest ids matching the
  * 1-in-5 predicate) — the truth cartesian is O(N·sample) with a
  * constant-size query broadcast at any corpus scale.
  */
object IvfPq {

  /** Rank-3 recall of IVF-probed, ADC-scored, exactly re-ranked search
    * vs exact L2 over the sampled queries; `recall_adc` isolates the
    * compressed-domain stage, `recall` the full two-stage pipeline.
    * The ADC/shortlist/re-rank/truth scaffolding is the shared
    * [[Pq.twoStageRecall]] (one copy of the rounding/tie rules); only
    * the cell-restricted candidate set is built here.
    */
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val withNrm = emb
      .withColumn("nrm", sqrt(DotProductD(col("embedding"), col("embedding"))))
    // stage 0: trained coarse cells (memoized); codebook comes from the
    // shared helper's own memoized training
    import spark.implicits._
    val centroids = Similarity.trainedCentroids(spark, dir).toDF("c_id", "c_emb")
    val assigned = Similarity.assignCells(withNrm, centroids)
    val probes = Similarity.queryProbes(assigned, centroids, nprobe = 2)
    // stage 1: cell-restricted candidates (≈ nprobe·√N per query)
    val cand = probes.select(col("q_id"), col("q_cell"))
      .join(assigned.select(col("vec_id"), col("cell")),
        col("cell") === col("q_cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
    // stages 2-4: ADC, shortlist, exact re-rank, truth — shared path
    Pq.twoStageRecall(spark, dir, Similarity.sampleQueries,
      candidatePairs = Some(cand), method = "ivfpq")
  }
}
