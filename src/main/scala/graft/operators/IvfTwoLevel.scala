package graft.operators

import graft.Tables
import graft.functions.DotProductD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level IVF — the coarse-quantizer architecture for corpora where
  * a flat cell count would blow past [[Similarity.ivfMaxCells]] (the
  * cap that bounds the DRIVER-side centroid artifact): ⌈√N⌉ flat cells
  * reach the 65536 cap at N ≈ 4.3B vectors, and past it flat cells
  * grow linearly with the corpus.
  *
  * The two-level answer keeps level 1 as the capped, broadcastable
  * artifact (the memoized [[Similarity.trainedCentroids]]), and makes
  * level 2 a DISTRIBUTED sub-centroid table keyed by coarse cell —
  * trained with joins and plain-avg aggregates, `localCheckpoint`ed
  * between Lloyd rounds, and NEVER collected to the driver or
  * broadcast. Total sub-cell count is unbounded because no component
  * ever materializes the whole centroid set in one place:
  *
  *  - level-2 seeding: the ⌈√cellsize⌉ smallest vec_ids per coarse
  *    cell (one window over the cell — index-build cost);
  *  - level-2 assignment: an EQUI-JOIN on the coarse cell id, so each
  *    vector meets only its own cell's sub-centroids — never a
  *    crossJoin against the full sub-centroid table;
  *  - level-2 update: per-(cell, sub, dim) plain `avg` (the
  *    [[Similarity.cellMeansProd]] discipline — O(1) aggregation
  *    state, no per-member fold);
  *  - search: a query's own (cell, sub) assignment is its probe list,
  *    and candidates arrive by equi-join on (cell, sub).
  *
  * Float reassociation in the distributed avg makes this path
  * bench+spec covered rather than hash-oracled (the certified flat-IVF
  * rows pin the shared assignment/tie semantics; the spec here pins
  * the argmin property, balance, and equi-join-only plan shape).
  */
object IvfTwoLevel {

  /** Level-2 Lloyd rounds. One round moves the seeds to genuine
    * sub-cluster means; the structural properties (argmin assignment,
    * equi-join shape) are iteration-count-independent.
    */
  val subLloydIters = 1

  private def withSubNorm(subCents: DataFrame): DataFrame =
    subCents.withColumn("s_nrm", sqrt(DotProductD(col("s_emb"), col("s_emb"))))

  /** Nearest sub-centroid WITHIN the vector's coarse cell: equi-join
    * on `cell`, rounded cosine, ties to the smallest s_id — the
    * [[Similarity.assignCells]] tie rule one level down, with the
    * broadcast replaced by a co-partitioned join (both sides shuffle
    * once by cell id; the sub-centroid side is ~k2 rows per cell).
    */
  private def assignSub(assigned: DataFrame, subCents: DataFrame): DataFrame =
    assigned.join(withSubNorm(subCents), "cell")
      .withColumn("s_cos",
        round(DotProductD(col("embedding"), col("s_emb")) /
          (col("nrm") * col("s_nrm")), 4))
      .groupBy(col("vec_id"))
      .agg(
        first(col("cell")).as("cell"),
        max_by(col("s_id"), struct(col("s_cos"), -col("s_id"))).as("sub"),
        first(col("embedding")).as("embedding"),
        first(col("nrm")).as("nrm"))

  /** Level-2 centroid update: plain avg per (cell, sub, dim) — the
    * shared [[Similarity.groupedMeansProd]] plan with (cell, sub) as
    * the group key; the result STAYS a DataFrame.
    */
  private def subMeans(subAssigned: DataFrame): DataFrame =
    Similarity.groupedMeansProd(subAssigned, Seq("cell", "sub"))
      .select(col("cell"), col("sub").as("s_id"), col("c_emb").as("s_emb"))

  /** Build the two-level index: (vec_id, cell, sub) for every vector,
    * with the level-2 table trained distributed. The returned frame is
    * checkpointed so downstream consumers (search, specs) see one
    * consistent index — the materialization an index build writes.
    */
  def buildIndex(spark: SparkSession, dir: String): DataFrame =
    buildIndexWithCents(spark, dir)._1

  /** Index build returning both halves — the spec recomputes the
    * argmin property against the trained sub-centroid table.
    */
  private[graft] def buildIndexWithCents(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", sqrt(DotProductD(col("embedding"), col("embedding"))))
    import spark.implicits._
    val centroids = Similarity.trainedCentroids(spark, dir).toDF("c_id", "c_emb")
    val assigned = Similarity.assignCells(emb, centroids).localCheckpoint(true)
    // seeds: the ⌈√cellsize⌉ smallest vec_ids per coarse cell
    val wCell = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    val wCount = Window.partitionBy(col("cell"))
    var subCents = assigned
      .withColumn("rn", row_number().over(wCell))
      .withColumn("k2", ceil(sqrt(count(lit(1)).over(wCount))).cast("int"))
      .filter(col("rn") <= col("k2"))
      .select(col("cell"), col("vec_id").as("s_id"),
        transform(col("embedding"), x => x.cast("double")).as("s_emb"))
    for (_ <- 1 to subLloydIters) {
      subCents = subMeans(assignSub(assigned, subCents))
        // truncate the Lloyd lineage WITHOUT collecting: the
        // sub-centroid table is distributed state, not a driver model
        .localCheckpoint(true)
    }
    val index = assignSub(assigned, subCents)
      .select(col("vec_id"), col("cell"), col("sub"),
        col("embedding"), col("nrm"))
      .localCheckpoint(true)
    (index, subCents)
  }

  /** Search over the two-level index: each sampled query probes its
    * own (cell, sub) — one equi-join on the composite cell id brings
    * in ~cellsize/k2 candidates, then exact rounded cosine + top-3.
    * Query side is the fixed-size sample, broadcast like the flat-IVF
    * search.
    */
  def search(spark: SparkSession, dir: String): DataFrame = {
    val index = buildIndex(spark, dir)
    val queries = Similarity.sampleQueries(index)
      .select(col("vec_id").as("q_id"), col("cell").as("q_cell"),
        col("sub").as("q_sub"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = index.join(broadcast(queries),
        col("cell") === col("q_cell") && col("sub") === col("q_sub") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(DotProductD(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("q_id", "rn", "vec_id", "cos")
      .orderBy("q_id", "rn")
  }
}
