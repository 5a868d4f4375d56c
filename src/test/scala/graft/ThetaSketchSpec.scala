package graft

import graft.operators.Sketches
import org.apache.spark.sql.functions._

/** Pins the Theta/KMV set-algebra properties `q_theta_overlap` rests
  * on (Dasgupta et al. 2016, the DataSketches theta family):
  *
  *  - MERGEABILITY: the k smallest of (kmv(A) ∪ kmv(B)) are exactly
  *    the k smallest of A ∪ B — any member of the union's bottom-k is
  *    in its own set's bottom-k — so shard sketches union by re-min
  *    and a stored sketch serves later queries bit-equally
  *    (ModelStore round-trip);
  *  - EXACT MODE: a sketch holding fewer than k hashes is the whole
  *    hash set, and every estimate degrades to the exact count;
  *  - BOUNDED intersection error: the common hashes under
  *    θ = min(θ_A, θ_B) are a rate-θ/M uniform sample of A ∩ B, so
  *    the estimate's error is the sample's own (~1/√|sample|), never
  *    the union's absolute error landed on a small intersection (the
  *    inclusion–exclusion failure mode E101's honesty column shows).
  */
class ThetaSketchSpec extends SparkSpec {

  private val M = 1L << Sketches.thetaHashBits

  private def ids(rows: Seq[Long]) = {
    import spark.implicits._
    rows.toDF("o_custkey")
  }

  test("KMV union merge == recompute: re-minning two sketches equals " +
    "the sketch of the raw union") {
    val a = ids(1L to 5000L)
    val b = ids(3000L to 9000L)
    val merged = Sketches.thetaKmvOf(a, "o_custkey")
      .unionByName(Sketches.thetaKmvOf(b, "o_custkey"))
      .distinct().orderBy("h").limit(Sketches.thetaK)
      .collect().map(_.getLong(0)).toSeq
    val direct = Sketches.thetaKmvOf(a.unionByName(b), "o_custkey")
      .collect().map(_.getLong(0)).toSeq
    assert(merged === direct,
      "re-min of shard sketches must equal the union's own sketch")
  }

  test("exact mode: sets under k hashes estimate exactly, including " +
    "the intersection") {
    // 100 and 80 keys with 30 in common — all sketches complete
    val a = ids(1L to 100L)
    val b = ids(71L to 150L)
    val kmvA = Sketches.thetaKmvOf(a, "o_custkey")
    val kmvB = Sketches.thetaKmvOf(b, "o_custkey")
    assert(kmvA.count() === 100L && kmvB.count() === 80L)
    val common = kmvA.join(kmvB, Seq("h")).count()
    assert(common === 30L,
      "complete sketches intersect exactly (60-bit hashes collision-free here)")
  }

  test("bounded intersection error on planted half-overlap sets, and " +
    "the stored sketch serves the same estimate") {
    // 20k/20k keys, 10k common — both sketches truncate at k=256
    val a = ids(1L to 20000L)
    val b = ids(10001L to 30000L)
    val kmvA = Sketches.thetaKmvOf(a, "o_custkey").localCheckpoint()
    val kmvB = Sketches.thetaKmvOf(b, "o_custkey").localCheckpoint()
    def theta(kmv: org.apache.spark.sql.DataFrame): Long = {
      val r = kmv.agg(count(lit(1)), max(col("h"))).head()
      if (r.getLong(0) < Sketches.thetaK) M else r.getLong(1)
    }
    val tA = theta(kmvA); val tB = theta(kmvB)
    val th = math.min(tA, tB)
    val sample = kmvA.join(kmvB, Seq("h")).filter(col("h") < th).count()
    val est = sample.toDouble * M.toDouble / th.toDouble
    // RSE ~ 1/sqrt(sample); assert within 4 sigma of the planted 10k
    val sigma = est / math.sqrt(math.max(sample, 1L).toDouble)
    assert(math.abs(est - 10000.0) <= 4.0 * sigma,
      s"est $est (sample $sample, sigma $sigma) strays from planted 10000")

    // ModelStore round-trip: the stored sketch is the sketch
    val store = java.nio.file.Files.createTempDirectory("theta").toString
    val dir = "/root/testdata/sf0.001"
    ModelStore.save(spark, store, ModelStore.thetaSketch("a"), dir, kmvA)
    val served = ModelStore.load(spark, store, ModelStore.thetaSketch("a"), dir)
    assert(served.collect().map(_.getLong(0)).sorted.toSeq ===
      kmvA.collect().map(_.getLong(0)).sorted.toSeq,
      "reloaded sketch frame must be bit-equal")
    val servedSample = served.join(kmvB, Seq("h"))
      .filter(col("h") < th).count()
    assert(servedSample === sample,
      "the served intersection sample must match the live one")
  }

  test("empty cohort degenerates cleanly: empty sketch, theta = M, " +
    "zero estimates, no division hazard") {
    val kmv = Sketches.thetaKmvOf(ids(Seq.empty), "o_custkey")
    assert(kmv.count() === 0L)
    // the read-off's theta for an empty sketch is the whole hash
    // space (n = 0 < k), so every |{h < theta}|/(theta/M) estimate is
    // 0/1 = 0 — never a 0/0 (ANSI mode would throw)
  }

  test("streaming KMV sketch equals the batch sketch after every wave " +
    "(merge == recompute as managed state)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Long]
    val q = Sketches.streamingThetaSketch(
        in.toDF().toDF("o_custkey"), "o_custkey")
      .writeStream.outputMode("update").format("memory")
      .queryName("thetastream").start()
    try {
      def frame(): Map[Long, Long] =
        spark.table("thetastream").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def batch(upTo: Seq[Long]): Map[Long, Long] = {
        val kmv = Sketches.thetaKmvOf(ids(upTo), "o_custkey")
          .collect().map(_.getLong(0))
        val th = if (kmv.length < Sketches.thetaK) M else kmv.max
        kmv.map(_ -> th).toMap
      }
      // wave 1: under k — exact mode, theta = M
      val w1 = (1L to 150L)
      in.addData(w1: _*); q.processAllAvailable()
      assert(frame() === batch(w1))
      // wave 2: push past k, with overlap — state re-mins to the
      // bottom k of EVERYTHING seen, theta = k-th smallest
      val w2 = (100L to 2000L)
      in.addData(w2: _*); q.processAllAvailable()
      val expect = batch((w1 ++ w2).distinct)
      // update-mode memory sink accumulates rows; the LATEST emission
      // per hash is the live sketch — reconcile by keeping rows whose
      // theta equals the final (minimum emitted) theta
      val finalTheta = expect.values.head
      val live = spark.table("thetastream").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .filter(_._2 == finalTheta).toMap
      assert(live === expect,
        "post-wave-2 sketch must equal the batch bottom-k of all keys")
    } finally q.stop()
  }

  test("q_theta_overlap exact columns: theta = min, k pinned, honesty " +
    "column consistent") {
    val row = Sketches.thetaOverlap(spark, "/root/testdata/sf0.001").head()
    assert(row.getAs[Long]("k") === Sketches.thetaK.toLong)
    // sf0.001 cohorts are far under k: exact mode end-to-end
    assert(row.getAs[Long]("theta") === M)
    assert(row.getAs[Double]("est_both") ===
      row.getAs[Long]("n_exact_both").toDouble)
    assert(row.getAs[Double]("rel_err") === 0.0)
  }
}
