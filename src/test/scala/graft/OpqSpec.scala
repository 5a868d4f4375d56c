package graft

import graft.operators.{Opq, Pq}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** OPQ rotation: the three-regime ladder picks the right rotation per
  * covariance shape, the trained basis is orthonormal (isometry — the
  * property that makes rotated-space ADC comparable to original-space
  * truth), and the rotation genuinely pays where it should: equality
  * with plain PQ on iid dims (identity regime), a recall lift on a
  * variance-skewed corpus (permutation regime), decorrelation on a
  * correlated corpus (iterative regime).
  */
class OpqSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Write a synthetic embeddings dir: n vectors × 64 dims, cell =
    * deterministic pseudo-noise × per-dim scale + shared component.
    */
  private def writeCorpus(tag: String, n: Int, scale: Int => Double,
      shared: Double = 0.0): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"opq$tag").toString
    (0 until n).map { vid =>
      val rnd = new java.util.Random(vid * 7919L)
      val common = rnd.nextGaussian()
      val e = (0 until 64).map { j =>
        (rnd.nextGaussian() * scale(j) + common * shared).toFloat
      }
      (vid.toLong, e, s"l${vid % 3}")
    }.toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("identity regime on iid dims: byte-compatible with plain PQ, recall equal") {
    val rot = Opq.trainedRotation(spark, sf)
    assert(rot.exact, "iid corpus must take a closed-form regime")
    assert(rot.outDimOfRound.zipWithIndex.forall { case (o, k) => o == k },
      "immaterial variance spread must keep the identity allocation")
    // the rotated corpus is bit-equal to the raw (double-widened) one
    val raw = Tables(spark, sf, "embeddings").select("vec_id", "embedding")
    val diff = Opq.rotated(spark, sf).as("r")
      .join(raw.as("o"), "vec_id")
      .filter(not(expr(
        "forall(zip_with(r.embedding, CAST(o.embedding AS ARRAY<DOUBLE>), (a, b) -> a = b), x -> x)")))
      .count()
    assert(diff === 0, "identity-regime rotated corpus must be bit-equal to raw")
    // and the certified recall rows agree exactly
    val opq = Opq.opqRecall(spark, sf).collect()(0)
    val pq = Pq.pqRecallAtK(spark, sf, Pq.productionCodebookSize).collect()(0)
    assert(opq.getDouble(2) === pq.getDouble(2) && opq.getDouble(3) === pq.getDouble(3),
      s"identity regime must reproduce plain PQ recall exactly: $opq vs $pq")
  }

  test("permutation regime on variance-skewed dims: balanced grouping lifts ADC recall") {
    // contiguous grouping is maximally unbalanced: the first subspace
    // holds all the variance
    val dir = writeCorpus("skew", 400, j => if (j < 8) 1.0 else 0.02)
    val rot = Opq.trainedRotation(spark, dir)
    assert(rot.exact, "independent dims must stay diagonal-dominant")
    assert(rot.outDimOfRound.zipWithIndex.exists { case (o, k) => o != k },
      "material variance skew must engage the snake permutation")
    // every basis row is a unit axis (a permutation matrix)
    assert(rot.basis.forall(row =>
      row.count(_ != 0L) <= 1 && row.forall(v => v == 0L || v == 1000000L)))
    // the snake allocation balances per-subspace variance: out-dim
    // order groups the variance-ranked rounds so every subspace gets
    // one eigenvalue per rank band — its spread must beat the
    // maximally-skewed contiguous grouping by a wide margin
    def spread(groups: Seq[Seq[Long]]): Long =
      groups.map(_.sum).max - groups.map(_.sum).min
    val byOut = (0 until 64).map(o => rot.lams(rot.outDimOfRound.indexOf(o)))
    val bySlot = rot.lams.toSeq // round k holds the k-th LARGEST variance
    val snakeSpread = spread(byOut.grouped(8).toSeq.map(_.toSeq))
    val contiguousSpread = spread(bySlot.grouped(8).toSeq.map(_.toSeq))
    assert(snakeSpread * 4 < contiguousSpread,
      s"snake must balance the skew: $snakeSpread vs contiguous $contiguousSpread")
    val dense: DataFrame => DataFrame = df =>
      df.filter(col("vec_id") % 5 === 3).sort("vec_id").limit(256)
    val opq = Opq.opqRecallWith(spark, dir, dense, k = 32).collect()(0)
    val pq = Pq.twoStageRecall(spark, dir, dense, None, "pq", 32).collect()(0)
    assert(opq.getDouble(2) >= pq.getDouble(2),
      s"balanced grouping must not lose ADC recall on skewed variance: $opq vs $pq")
  }

  test("iterative regime on correlated dims: orthonormal basis, isometry held") {
    val dir = writeCorpus("corr", 300, _ => 0.3, shared = 1.0)
    val rot = Opq.trainedRotation(spark, dir)
    assert(!rot.exact, "a shared component must push off-diagonal energy past diagonal")
    // orthonormality in micros: |<v_a, v_b>|/1e12 small off-diagonal,
    // ~1 on the diagonal (zero rows allowed for a deflated-out tail)
    val d = rot.dims.length
    for (a <- 0 until 64; b <- a until 64) {
      var dot = 0L
      var i = 0
      while (i < d) { dot += rot.basis(a)(i) * rot.basis(b)(i); i += 1 }
      val v = dot.toDouble / 1e12
      if (a == b) assert(v === 0.0 || math.abs(v - 1.0) < 1e-4,
        s"row $a norm $v")
      else assert(math.abs(v) < 1e-4, s"rows $a,$b dot $v")
    }
    // isometry: rotated norms match original norms (unit basis ⇒
    // ‖Rx‖ = ‖x‖ up to the micro grid)
    import spark.implicits._
    val orig = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").as("ss"))
    val rotn = Opq.rotated(spark, dir)
      .select(col("vec_id"), expr(
        "aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)").as("ss2"))
    val worst = orig.join(rotn, "vec_id")
      .select(max(abs(sqrt(col("ss")) - sqrt(col("ss2"))))).as[Double].head()
    assert(worst < 1e-3, s"rotation must preserve norms, worst drift $worst")
  }

  test("rotation rows: full surface, allocation is a bijection") {
    val rows = Opq.rotationRows(spark, Opq.trainedRotation(spark, sf)).collect()
    assert(rows.length === 64 * 64)
    val rot = Opq.trainedRotation(spark, sf)
    assert(rot.outDimOfRound.toSet.size === 64, "out_dim allocation must be a bijection")
    assert(rot.outDimOfRound.forall(o => o >= 0 && o < 64))
  }
}
