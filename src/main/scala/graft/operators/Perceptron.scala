package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained document classifier — the quality/language-filter pattern
  * every pretraining corpus ships (a fastText-style model gating
  * documents into the training mix), re-expressed as a DISTRIBUTED
  * batch perceptron with integer-exact arithmetic.
  *
  * Why a perceptron and why integers: the training loop must be
  * replayable by the DuckDB oracle bit-for-bit, and floating-point
  * gradient descent is not (libm `exp` differs across engines). The
  * batch perceptron's update is a pure integer aggregate —
  * w ← w + Σ_{misclassified} y·x over integer features — so EVERY
  * intermediate value is exact in both engines and the hash oracle
  * certifies the whole trained model, not just the scoring pass.
  *
  * Scale shape (100 TB): one narrow pass builds the integer feature
  * vectors (codegen'd regexp/split counts, localCheckpoint'd once like
  * the Retrieval tf table); each epoch is ONE map-side-combined
  * aggregate returning a single row of weight deltas (the O(features)
  * model artifact — the Lloyd/k-means driver discipline,
  * [[Similarity.trainedCentroids]]); scoring is a narrow projection
  * with the weights folded in as literals. No shuffles anywhere except
  * each epoch's 1-row aggregate and the presentation sort.
  *
  * On the driver's synthetic corpus the `lang` label is uncorrelated
  * with the text (every language draws the same token vocabulary), so
  * the trained model settles at the majority prediction there — the
  * oracle row certifies the TRAINING REPLAY, and the spec proves the
  * learner separates a corpus where the signal actually exists.
  */
object Perceptron {

  /** Batch epochs. The first epochs swing (each batch update is an
    * unscaled sum); by epoch ~4 the misclassified set stabilizes —
    * empty on separable data, sign-stable otherwise — and further
    * epochs are no-ops or bounded oscillation. Five keeps one epoch of
    * margin past the observed settle point; each costs one aggregate
    * pass over the checkpointed feature table.
    */
  val epochs = 5

  /** English stopword probe list — shared with [[Sampling.qualityFilter]]
    * and the survivors oracle (parity proven there).
    */
  private val stopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  /** The six integer feature expressions over a `text` column — the
    * ONE definition both the batch trainer and the streaming scorer
    * build from, so batch/stream per-row parity is structural (the
    * parity spec remains as a regression tripwire, but an edit here
    * cannot desynchronize the two paths).
    */
  private def featureColumns: Seq[Column] = {
    val toks = split(trim(col("text")), " ")
    Seq(
      lit(1L),
      size(toks).cast("long"),
      length(col("text")).cast("long"),
      size(filter(toks, t => t.isInCollection(stopwords))).cast("long"),
      regexp_count(col("text"), lit("[0-9]")).cast("long"),
      regexp_count(col("text"), lit("[.,!?;:]")).cast("long"))
  }

  /** Integer feature vector per document: bias, token count, char
    * count, stopword hits, digit chars, punctuation chars. All BIGINT
    * — no ratios, so cross-engine parity is exact.
    */
  private[graft] def features(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(Seq(
        col("doc_id"),
        (col("lang") === "en").as("is_en"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y")) ++
        featureColumns.zipWithIndex.map { case (x, i) => x.as(s"x$i") }: _*)

  private val dims = 6

  private def margin(w: Array[Long]): Column =
    (0 until dims).map(i => lit(w(i)) * col(s"x$i")).reduce(_ + _)

  /** The epoch loop: each pass is ONE distributed aggregate over the
    * misclassified set; the driver holds only the weight vector.
    * Epoch 1 from w=0 updates on every document (margin 0 counts as
    * misclassified — the convention the oracle unrolls).
    */
  private[graft] def train(f: DataFrame, nEpochs: Int = epochs): Array[Long] = {
    val w = Array.fill(dims)(0L)
    for (_ <- 1 to nEpochs) {
      val upd = f.filter(col("y") * margin(w) <= 0)
        .agg(
          sum(col("y") * col("x0")).as("d0"),
          (1 until dims).map(i =>
            sum(col("y") * col(s"x$i")).as(s"d$i")): _*)
        .head()
      for (i <- 0 until dims if !upd.isNullAt(i)) w(i) += upd.getLong(i)
    }
    w
  }

  /** Train on the full corpus and score every document with the
    * trained weights folded in as literals.
    */
  def classifier(spark: SparkSession, dir: String): DataFrame = {
    val f = features(spark, dir).localCheckpoint(true)
    val w = trainedWeights(spark, dir)
    f.select(col("doc_id"),
        margin(w).as("score"),
        (margin(w) > 0).as("pred_en"),
        col("is_en"))
      .orderBy("doc_id")
  }

  /** The trained weight vector alone (for specs / reuse on a stream —
    * weights ride any plan as literals like the IVF centroids do).
    * Training is deterministic (fixed epoch count, exact integer
    * updates), so the artifact is a pure function of the dataset
    * version — the [[Similarity]]/[[Pq]] train-once-serve-many
    * discipline, memoized under the [[graft.ModelStore.perceptron]]
    * stamp.
    */
  def trainedWeights(spark: SparkSession, dir: String): Array[Long] =
    graft.Memo(graft.ModelStore.perceptron.stamp(dir))(trainWeights(spark, dir))

  /** The un-memoized feature pass plus epoch loop [[trainedWeights]]
    * serves from the memo (the bench-only cold row `text_quality_train`
    * calls it directly, rendered through [[weightRows]]).
    */
  private[graft] def trainWeights(spark: SparkSession, dir: String): Array[Long] =
    train(features(spark, dir).localCheckpoint(true))

  /** A weight vector as (idx, weight) rows. */
  private[graft] def weightRows(spark: SparkSession, w: Array[Long]): DataFrame = {
    import spark.implicits._
    w.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("idx", "weight").orderBy("idx")
  }

  /** Score a STREAM of documents with batch-trained weights — the
    * train-batch/serve-stream half of the classifier (same pattern as
    * `Similarity.streamingCellScores`): the weight vector rides the
    * plan as literals, so scoring is a stateless narrow projection a
    * live ingest applies per micro-batch with zero shuffles and
    * per-row parity with the batch scorer. `docs` needs (doc_id, text,
    * lang) — works on streaming and batch frames alike.
    */
  def streamingScores(docs: DataFrame, w: Array[Long]): DataFrame = {
    require(w.length == dims, s"expected $dims weights")
    val score = featureColumns.zipWithIndex
      .map { case (x, i) => lit(w(i)) * x }.reduce(_ + _)
    docs.select(col("doc_id"), score.as("score"), (score > 0).as("pred_en"))
  }
}
