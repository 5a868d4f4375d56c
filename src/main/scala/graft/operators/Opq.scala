package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimized Product Quantization (OPQ, parametric family — Ge et al.,
  * CVPR 2013, public method): learn an orthogonal rotation of the
  * embedding space BEFORE product quantization, so the PQ subspace
  * split cuts along decorrelated axes with balanced variance instead
  * of whatever order the embedding model emitted — the standard
  * index-quality lever at the same byte budget that the plain PQ
  * family ([[Pq]]) doesn't have.
  *
  * Training (every float op deterministic, so the DuckDB oracle
  * replays the whole chain bit-for-bit — the
  * [[Quantize.topPrincipalComponent]] power-iteration discipline
  * extended to a full basis):
  *
  *  1. One corpus pass: per-dim means (round 6), corpus size n.
  *  2. One corpus pass: the d×d population covariance matrix
  *     C(i,j) = Σ(xᵢ−μᵢ)(xⱼ−μⱼ)/n, each cell rounded ONCE into exact
  *     integer micros — from here on, training touches ONLY this
  *     O(d²) artifact, never the corpus again (the 100 TB shape: two
  *     scans total, bounded driver state; the raw sums are generic
  *     doubles whose reorder noise sits ~11 orders below the
  *     half-quantum, the pcFit argument).
  *  3. [[rotationDims]] deflation rounds of power iteration on the
  *     integer matrix: two matvecs (seed = the exact constant 1/8,
  *     the pcFit seed), normalize, Gram–Schmidt against the
  *     accumulated basis applied TWICE at unit scale (classical
  *     re-orthogonalization — so the basis stays orthogonal to ~1e-6
  *     even where deflated power iteration alone wouldn't converge,
  *     and the micro grid can't quantize the correction away),
  *     normalization, Rayleigh eigenvalue, rank-1 deflation — every
  *     step back to the micro grid is the same half-away integer
  *     division in both engines (see [[Rotation]]).
  *  4. Eigenvalue allocation: basis vectors ranked by eigenvalue
  *     (descending, ties to the earliest round) are dealt to the
  *     [[Pq.numSubspaces]] subspaces in SNAKE order — pass p of rank
  *     r = p·M + q lands in subspace q on even passes and M−1−q on
  *     odd ones — the deterministic balanced variant of Ge et al.'s
  *     eigenvalue allocation (a greedy product argmin would compare
  *     accumulated float products, a cross-engine tie hazard; the
  *     snake is a pure rank formula with the same balancing intent).
  *
  * Training picks the cheapest rotation the covariance JUSTIFIES — a
  * three-regime ladder, each test an exact integer comparison
  * identical in both engines:
  *
  *  - genuine cross-correlation (off-diagonal energy ≥ diagonal):
  *    the full iterative eigenbasis above;
  *  - diagonal-dominant but materially imbalanced per-subspace
  *    variance (max−min over the contiguous grouping exceeding a
  *    quarter of the mean): the CLOSED-FORM eigenbasis — a diagonal
  *    covariance's eigenvectors ARE the axes, so R is the variance-
  *    ranked snake permutation (an unconverged power basis here would
  *    be an arbitrary rotation that gaussianizes the marginals and
  *    WEAKENS the quantizer);
  *  - neither: the IDENTITY — nothing to gain, the index stays
  *    byte-compatible with plain PQ (the production "don't migrate
  *    the index for nothing" decision; on this corpus's iid noise
  *    dims, `ann_opq_recall` therefore equals `ann_pq_recall_k256`
  *    exactly, while OpqSpec pins the other two regimes winning on
  *    anisotropic corpora).
  *
  * The rotated corpus y = R·x (raw x, the Ge et al. form — centering
  * serves only the covariance estimate; each coordinate round-6,
  * skipped in the closed-form regimes where the sum is one exact
  * input value) then feeds the UNCHANGED certified PQ
  * trainer/encoder at the production width K=256 — same seeds, same
  * Lloyd rounds, same ADC — so the `ann_opq_recall` row differs from
  * `ann_pq_recall_k256` in exactly one thing: the learned rotation.
  * Rotation is isometric (up to the round-6 grid), so distances in
  * rotated space are the original distances; truth and the exact
  * re-rank stage stay in the ORIGINAL space, making the two recall
  * rows directly comparable.
  *
  * Scale shape (100 TB): training = two narrow corpus passes with
  * O(d²) partial state (the covariance accumulates per-partition and
  * reduces — never a corpus-sized shuffle); the rotation artifact is
  * O(d²) driver floats (32 KB at d=64), memoized like the IVF/PQ
  * models; applying R is one narrow mapPartitions pass (d² multiply-
  * adds per vector, zero shuffles); everything downstream is the
  * certified PQ pipeline unchanged.
  */
object Opq {

  /** Output width of the learned rotation — FIXED (the oracle's
    * generate_series bound, like [[Quantize.embeddingDim]]): a corpus
    * with fewer observed dims trains a basis over the dims it has and
    * pads the rotated tail with zero coordinates, identically in both
    * engines.
    */
  val rotationDims = 64

  /** Power-iteration seed (the pcFit constant). */
  val rotationSeed = 0.125

  /** Spark `round(_, 6)` replicated for driver-side scalar training —
    * `BigDecimal.valueOf` (shortest-decimal), HALF_UP (the
    * [[Pq]] round4 precedent, one scale finer).
    */
  private[operators] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Trained rotation artifact. Basis weights and eigenvalues are
    * held as MICROS — value × 10⁶ as exact integers: the whole
    * deflation runs in scaled-integer arithmetic (the PageRank
    * integer-fixed-point discipline), because chaining hundreds of
    * float `round(_, 6)` calls over values that sit ON the decimal
    * grid makes true half-way ties reachable (~10⁻⁶ per rounding),
    * and DuckDB's float-path round and a decimal HALF_UP disagree on
    * a true tie. In integer space every tie is decided by the same
    * `(x + q/2) div q` rule on both engines; doubles appear only at
    * isolated, bit-reproducible spots (sqrt of an exact integer, a
    * division of exact ints) or as single roundings of raw noisy
    * sums, where the noise sits ~11 orders below the half-quantum.
    */
  private[graft] case class Rotation(
      dims: Array[Int],               // observed in-dims, ascending
      mu: Array[Double],              // per observed dim, round-6
      basis: Array[Array[Long]],      // rotationDims × dims.length, micros
      lams: Array[Long],              // rotationDims, micros
      outDimOfRound: Array[Int],      // round k → out_dim (snake rank)
      // diagonal-dominant closed form? Then every basis row is a unit
      // axis, each rotated coordinate is ONE exact input value (the
      // zero terms add ±0.0), and the round-6 determinism guard is
      // unnecessary — skipping it makes the permuted corpus BIT-EQUAL
      // to what plain PQ quantizes, so the two recall rows differ only
      // in the variance-balanced grouping (the OPQ lever itself)
      exact: Boolean)

  /** Round-half-away-from-zero integer division — the tie rule both
    * engines state identically (`(|x| + q/2) div q`, sign restored).
    */
  private[operators] def divRound(x: Long, q: Long): Long =
    if (x >= 0) (x + q / 2) / q else -((-x + q / 2) / q)

  /** Round a (generic, non-grid) double to the nearest integer, half
    * away from zero — same bits in, same integer out as DuckDB's
    * `round(x, 0)` (no pre-multiply, so no float-path divergence).
    */
  private[operators] def roundToLong(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** The trained rotation, memoized per dataset content version under
    * the [[graft.ModelStore.opq]] stamp (the codebook discipline).
    */
  private[graft] def trainedRotation(spark: SparkSession,
      dir: String): Rotation =
    graft.Memo(graft.ModelStore.opq.stamp(dir))(trainRotation(spark, dir))

  private[graft] def trainRotation(spark: SparkSession, dir: String): Rotation = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // pass 1: per-dim means (round 6, per-dim row counts) + corpus n
    val cells = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .localCheckpoint() // feeds means AND the distinct-vector count
    val muRows = cells
      .groupBy("dim")
      .agg(round(sum(col("x").cast("double")) / count(lit(1)), 6).as("mu"))
      .as[(Int, Double)].collect().sortBy(_._1)
    val dims = muRows.map(_._1)
    val mu = muRows.map(_._2)
    // vectors with at least one observed dim — the covariance
    // denominator (the oracle counts DISTINCT vec_id over the
    // exploded frame, which excludes empty-array vectors)
    val n = cells.select(countDistinct(col("vec_id"))).as[Long].head()
    val d = dims.length
    val slot = dims.zipWithIndex.toMap
    // pass 2: the d×d covariance — per-partition dense outer-product
    // accumulation reduced to one O(d²) array (never a corpus-sized
    // shuffle; the 100 TB Gram shape), then /n and round 6 per cell.
    // Contributions only for dims a vector actually has (ragged
    // corpora) — the oracle's join semantics.
    val muB = spark.sparkContext.broadcast((dims, mu))
    // present(i,j) ⇔ some vector carries BOTH dims: an absent cell is
    // an absent ROW on the oracle side and must stay absent through
    // every deflation round (it contributes nothing to matvecs and is
    // never rewritten), not become a −λ·vᵢ·vⱼ residual
    val (covRaw, present): (Array[Double], Array[Boolean]) =
      if (n == 0 || d == 0) (Array.fill(d * d)(0.0), Array.fill(d * d)(false))
      else {
        val (raw, cnt) = emb.select(col("embedding")).as[Seq[Float]]
          .mapPartitions { it =>
            val (ds, m) = muB.value
            val dd = ds.length
            val acc = new Array[Double](dd * dd)
            val cnt = new Array[Long](dd * dd)
            it.foreach { e =>
              val c = new Array[Double](dd)
              var s = 0
              while (s < dd) {
                val i = ds(s)
                c(s) = if (i < e.length) e(i).toDouble - m(s) else Double.NaN
                s += 1
              }
              var a = 0
              while (a < dd) {
                if (!c(a).isNaN) {
                  var b = 0
                  while (b < dd) {
                    if (!c(b).isNaN) {
                      acc(a * dd + b) += c(a) * c(b)
                      cnt(a * dd + b) += 1L
                    }
                    b += 1
                  }
                }
                a += 1
              }
            }
            Iterator.single((acc, cnt))
          }.reduce { (x, y) =>
            var i = 0
            while (i < x._1.length) {
              x._1(i) += y._1(i); x._2(i) += y._2(i); i += 1
            }
            x
          }
        (raw.map(v => v / n), cnt.map(_ > 0L))
      }
    // ONE rounding of the raw noisy sum into micros (generic values —
    // reorder noise sits ~11 orders below the half-quantum); from here
    // on the deflation is EXACT scaled-integer arithmetic, replaying
    // the oracle's CTE chain step for step
    val c: Array[Long] = covRaw.map(v => roundToLong(v * 1e6))
    val basis = Array.ofDim[Long](rotationDims, d)
    val lams = new Array[Long](rotationDims)
    val micro = 1000000L
    // regime switch (exact integer arithmetic, same comparison both
    // engines): when the covariance is DIAGONAL-DOMINANT (off-diagonal
    // energy below diagonal energy), the exact eigendecomposition is
    // the axes themselves up to ordering — parametric OPQ's R
    // degenerates to the variance-ranked axis permutation, and the
    // closed form beats an unconverged power-iteration basis (which on
    // a near-flat spectrum is an arbitrary rotation: it gaussianizes
    // the per-coordinate marginals and WEAKENS the product quantizer).
    // The factor-1 threshold separates the regimes cleanly: iid dims
    // give off/diag ≈ (d−1)/n ≪ 1 (pure sampling noise), while one
    // genuinely shared direction already pushes the ratio well past 1.
    var diagSq = 0L
    var offSq = 0L
    locally {
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          if (present(i * d + j)) {
            val cc = c(i * d + j)
            if (i == j) diagSq += cc * cc else offSq += cc * cc
          }
          j += 1
        }
        i += 1
      }
    }
    if (offSq < diagSq) {
      // materiality test (exact integers): does the CONTIGUOUS-dim
      // grouping plain PQ uses carry a variance imbalance worth fixing
      // at all? Spread of per-subspace variance sums vs total — rotate
      // only when max−min exceeds a quarter of the mean subspace
      // variance (32·spread > total). On iid dims the spread is pure
      // sampling noise (a few %), the identity keeps the index
      // byte-compatible with plain PQ, and recall is EXACTLY plain
      // PQ's — the production "don't migrate the index for nothing"
      // decision. A decaying spectrum trips the test immediately.
      val m0 = Pq.numSubspaces
      val subDim = rotationDims / m0
      val material = {
        val groups = (0 until d).groupBy(_ / subDim)
        val sums = groups.values.map(_.map(s => c(s * d + s)).sum).toSeq
        if (sums.isEmpty) false
        else 32L * (sums.max - sums.min) > sums.sum
      }
      if (!material) {
        // identity: out_dim k = slot k; rounds past the observed
        // width stay zero vectors with λ = 0
        val outDimOfRound = Array.tabulate(rotationDims)(identity)
        for (k <- 0 until rotationDims if k < d) {
          basis(k)(k) = micro
          lams(k) = c(k * d + k)
        }
        return Rotation(dims, mu, basis, lams, outDimOfRound, exact = true)
      }
      // closed form: basis vector k = the axis with the k-th largest
      // variance (ties to the smallest dim); snake allocation balances
      // the per-subspace variance; rounds past the observed width stay
      // zero vectors with λ = 0
      val ranked = (0 until d).sortBy(s => (-c(s * d + s), dims(s)))
      for (k <- 0 until rotationDims) {
        if (k < d) {
          basis(k)(ranked(k)) = micro
          lams(k) = c(ranked(k) * d + ranked(k))
        }
      }
      val rankedK = (0 until rotationDims).sortBy(k => (-lams(k), k))
      val outDimOfRound = new Array[Int](rotationDims)
      rankedK.zipWithIndex.foreach { case (k, r) =>
        val p = r / m0; val q = r % m0
        val m = if (p % 2 == 0) q else m0 - 1 - q
        outDimOfRound(k) = m * subDim + p
      }
      return Rotation(dims, mu, basis, lams, outDimOfRound, exact = true)
    }
    // matvec in micros: Σ Cᵢⱼ·vⱼ is micro² (exact Long), one
    // half-away integer division back to micros. All training-loop
    // products/sums go through multiplyExact/addExact: the JVM wraps
    // Long overflow silently while DuckDB raises on BIGINT overflow —
    // a corrupt-basis-on-one-engine/error-on-the-other split. Failing
    // loudly here matches the oracle's behavior on pathological
    // covariance magnitudes (the training is O(d²·rounds), so the
    // checked ops cost nothing).
    def matvec(v: Array[Long]): Array[Long] = {
      val u = new Array[Long](d)
      var i = 0
      while (i < d) {
        var s = 0L; var j = 0
        while (j < d) {
          if (present(i * d + j))
            s = Math.addExact(s, Math.multiplyExact(c(i * d + j), v(j)))
          j += 1
        }
        u(i) = divRound(s, micro); i += 1
      }
      u
    }
    // normalization: ‖u‖² is an exact integer; sqrt and the division
    // are single IEEE ops on identical operands in both engines, so
    // the one rounding back to micros sees identical bits
    def normalize(u: Array[Long]): Array[Long] = {
      var ss = 0L; var i = 0
      while (i < d) {
        ss = Math.addExact(ss, Math.multiplyExact(u(i), u(i))); i += 1
      }
      val nrm = math.sqrt(ss.toDouble)
      Array.tabulate(d)(i =>
        if (nrm > 0) roundToLong(u(i).toDouble / nrm * 1e6) else 0L)
    }
    val seedMicros = (rotationSeed * 1e6).toLong // 0.125 → 125000 exact
    for (k <- 0 until rotationDims) {
      // two matvecs from the constant seed
      val u1 = {
        val u = new Array[Long](d)
        var i = 0
        while (i < d) {
          var s = 0L; var j = 0
          while (j < d) {
            if (present(i * d + j))
              s = Math.addExact(s, Math.multiplyExact(c(i * d + j), seedMicros))
            j += 1
          }
          u(i) = divRound(s, micro); i += 1
        }
        u
      }
      val u2 = matvec(normalize(u1))
      // Gram–Schmidt against the accumulated basis, on the NORMALIZED
      // vector and applied TWICE (the classical re-orthogonalization):
      // at unit micro scale the quantized coefficients resolve 1e-6 of
      // the component, and the second pass removes what the first
      // pass's own grid rounding left behind — without the pre-
      // normalization, a deflated-tail u2 only a few micros tall gets
      // corrections quantized to its own magnitude and the basis
      // collapses onto repeated directions (isometry lost)
      def gsOnce(x: Array[Long], rounds: Int): Array[Long] = {
        val adj = new Array[Long](d)
        var bk = 0
        while (bk < rounds) {
          var cf = 0L; var i = 0
          while (i < d) {
            cf = Math.addExact(cf, Math.multiplyExact(x(i), basis(bk)(i)))
            i += 1
          }
          val cfr = divRound(cf, micro)
          var p = 0
          while (p < d) {
            adj(p) = Math.addExact(adj(p), Math.multiplyExact(cfr, basis(bk)(p)))
            p += 1
          }
          bk += 1
        }
        Array.tabulate(d)(i => x(i) - divRound(adj(i), micro))
      }
      val v = normalize(gsOnce(normalize(gsOnce(normalize(u2), k)), k))
      basis(k) = v
      // Rayleigh eigenvalue over the CURRENT deflated matrix
      val w = matvec(v)
      var lam = 0L
      var i = 0
      while (i < d) {
        lam = Math.addExact(lam, Math.multiplyExact(v(i), w(i))); i += 1
      }
      lams(k) = divRound(lam, micro)
      // rank-1 deflation: λ·vᵢ·vⱼ is micro³ (exact Long only while
      // |λ| micros stays under ~9·10⁶ — multiplyExact turns the
      // silent wrap into the same loud failure DuckDB raises), one
      // div-round by 10¹² back to the matrix grid
      if (k < rotationDims - 1) {
        var a = 0
        while (a < d) {
          var b = 0
          while (b < d) {
            if (present(a * d + b))
              c(a * d + b) = Math.subtractExact(c(a * d + b), divRound(
                Math.multiplyExact(Math.multiplyExact(lams(k), v(a)), v(b)),
                micro * micro))
            b += 1
          }
          a += 1
        }
      }
    }
    // snake eigenvalue allocation: rank by (λ desc, round asc), deal
    // rank r = p·M + q to subspace (p even ? q : M−1−q), slot p
    val m0 = Pq.numSubspaces
    val subDim = rotationDims / m0
    val ranked = (0 until rotationDims)
      .sortBy(k => (-lams(k), k))
    val outDimOfRound = new Array[Int](rotationDims)
    ranked.zipWithIndex.foreach { case (k, r) =>
      val p = r / m0; val q = r % m0
      val m = if (p % 2 == 0) q else m0 - 1 - q
      outDimOfRound(k) = m * subDim + p
    }
    Rotation(dims, mu, basis, lams, outDimOfRound, exact = false)
  }

  /** The trained rotation as driver-checkable rows: one row per
    * (out_dim, observed in_dim) with the basis weight and the
    * producing round's eigenvalue (micros emitted as exact-int /10⁶
    * doubles — identical bits from identical integers) — the
    * certification surface the oracle replays end-to-end
    * (`opq_rotation`).
    */
  def rotationRows(spark: SparkSession, rot: Rotation): DataFrame = {
    import spark.implicits._
    val rows = for {
      k <- 0 until rotationDims
      s <- rot.dims.indices
    } yield (rot.outDimOfRound(k).toLong, rot.dims(s).toLong,
      rot.basis(k)(s).toDouble / 1e6, rot.lams(k).toDouble / 1e6)
    rows.toDF("out_dim", "in_dim", "w", "lam")
      .orderBy("out_dim", "in_dim")
  }

  /** The rotated corpus y = R(x − μ): [[streamingRotate]]'s narrow
    * mapPartitions pass over the stored table with the O(d²) artifact
    * broadcast, each coordinate rounded at 6 (the oracle's remb
    * join-aggregate computes the same rounded sums). Width is always
    * [[rotationDims]]; session-memoized like the stored PQ code index.
    */
  private[graft] def rotated(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(graft.DataVersion.sessionKey(spark, dir, "embeddings", "opqrotated"))(
      streamingRotate(Tables(spark, dir, "embeddings"), trainedRotation(spark, dir))
        .localCheckpoint(true))

  /** Apply a FROZEN trained rotation to a STREAM of vectors — the
    * serve half of the rotation family (the
    * `Quantize.streamingHardNegatives` pattern): a stateless narrow
    * projection (zero shuffles, no sort — append-mode streamable),
    * and the very pass the batch [[rotated]] relation runs over the
    * stored corpus, so the two are bit-equal. An ingest pipeline rotates arriving vectors with
    * this before encoding them against the stored OPQ codebook.
    * `vecs` needs (vec_id, embedding); vectors with no observed dims
    * drop (the batch relation's semantics).
    */
  def streamingRotate(vecs: DataFrame, rot: Rotation): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(rot)
    vecs.select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val r = bc.value
        val d = r.dims.length
        // a vector with NO observed dims has no centered cells on the
        // oracle side and drops out of the rotated relation — mirror
        // that (flatMap, not map)
        it.flatMap { case (vid, e) =>
          // the rotation applies to RAW x (the Ge et al. form —
          // centering served only the covariance estimate); distances
          // are preserved either way, and uncentered application keeps
          // the diagonal-dominant branch's permuted corpus bit-equal to
          // what plain PQ quantizes
          val cx = new Array[Double](d)
          var s = 0
          var any = false
          while (s < d) {
            val i = r.dims(s)
            if (i < e.length) { cx(s) = e(i).toDouble; any = true }
            else cx(s) = Double.NaN
            s += 1
          }
          if (!any) Iterator.empty
          else {
            val y = new Array[Double](rotationDims)
            var k = 0
            while (k < rotationDims) {
              var acc = 0.0; var p = 0
              while (p < d) {
                // w as double = micros/1e6, the exact value the
                // oracle's orot carries
                if (!cx(p).isNaN) acc += r.basis(k)(p).toDouble / 1e6 * cx(p)
                p += 1
              }
              // exact closed form ⇒ the sum IS one input value
              // (order-independent), no determinism round needed
              y(r.outDimOfRound(k)) = if (r.exact) acc else round6(acc)
              k += 1
            }
            Iterator.single((vid, y.toSeq))
          }
        }
      }.toDF("vec_id", "embedding")
  }

  /** The PQ codebook trained on the ROTATED corpus at the production
    * width — the unchanged certified trainer ([[Pq.trainCodebookOn]]),
    * memoized per dataset content version. In the full-width identity
    * regime the rotated corpus is bit-equal to the raw one, so the
    * codebook IS the plain-PQ artifact — serve the shared memo instead
    * of retraining (the byte-compatibility dividend of not rotating).
    */
  private def opqCodebook(spark: SparkSession, dir: String,
      k: Int): Seq[(Int, Long, Seq[Double])] = {
    val rot = trainedRotation(spark, dir)
    val identityRegime = rot.exact &&
      rot.dims.length == rotationDims &&
      rot.dims.zipWithIndex.forall { case (dim, s) => dim == s } &&
      rot.outDimOfRound.zipWithIndex.forall { case (o, kk) => o == kk }
    if (identityRegime) Pq.trainedCodebook(spark, dir, k)
    else graft.Memo(graft.DataVersion.key(dir, "embeddings", s"opqpq$k"))(
      Pq.trainCodebookOn(rotated(spark, dir), k))
  }

  /** The stored (vec_id, m, code) OPQ index — built once per session
    * with the production [[Pq.encodeScalar]] pass over the rotated
    * corpus (narrow, broadcast codebook, zero joins), the same
    * deployment shape as the plain-PQ stored index: a recall audit
    * measures the index as SERVED, not a per-query re-encode.
    */
  private def indexedCodes(spark: SparkSession, dir: String,
      k: Int): DataFrame =
    graft.Memo(graft.DataVersion.sessionKey(spark, dir, "embeddings", s"opq$k#codes"))(
      Pq.encodeScalar(rotated(spark, dir), opqCodebook(spark, dir, k))
        .select(col("vec_id"), col("m"), col("code"))
        .localCheckpoint(true))

  /** The stored byte-packed OPQ index the packed-LUT scan reads —
    * dense-remapped and hex-packed exactly like the plain-PQ stored
    * index.
    */
  private def indexedPacked(spark: SparkSession, dir: String,
      k: Int): DataFrame =
    graft.Memo(graft.DataVersion.sessionKey(spark, dir, "embeddings", s"opq$k#packed")) {
      import spark.implicits._
      Pq.packFrom(indexedCodes(spark, dir, k),
          opqCodebook(spark, dir, k).toDF("m", "c_id", "c_emb"))
        .select(col("vec_id"), unhex(col("code_packed")).as("codes"))
        .localCheckpoint(true)
    }

  /** Two-stage OPQ recall at the production width (`ann_opq_recall`):
    * ADC shortlist in the ROTATED space (rotated query subvectors
    * against the rotated-trained codebook — the join form, the shape
    * the oracle replays), exact re-rank and truth in the ORIGINAL
    * space, so the row is an apples-to-apples companion of
    * `ann_pq_recall_k256` — same query sample, same shortlist depth,
    * same truth; the only difference is the learned rotation.
    */
  def opqRecall(spark: SparkSession, dir: String,
      k: Int = Pq.productionCodebookSize): DataFrame =
    opqRecallWith(spark, dir, Pq.pqSampleQueries, k)

  private[graft] def opqRecallWith(spark: SparkSession, dir: String,
      sample: DataFrame => DataFrame,
      k: Int = Pq.productionCodebookSize): DataFrame = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val remb = rotated(spark, dir)
    val cb = opqCodebook(spark, dir, k).toDF("m", "c_id", "c_emb")
    val sampled = sample(remb).localCheckpoint(true)
    // packed-LUT scan over the stored OPQ index (the production form,
    // row-exact with the join form the oracle replays — the plain-PQ
    // parity discipline applied to the rotated corpus)
    val shortlist = Pq.adcPackedShortlistOn(spark, remb,
      opqCodebook(spark, dir, k), indexedPacked(spark, dir, k),
      _ => sampled)
    val adcTop3 = shortlist.filter(col("rn") <= 3)
      .groupBy(col("q_id"))
      .agg(collect_set(col("vec_id")).as("adc_cands"))
    // original-space queries for re-rank + truth (same sampled ids)
    val queries = sample(emb)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .localCheckpoint(true)
    val rescored = shortlist.select("q_id", "vec_id")
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "q_id")
      .withColumn("d2", Pq.dist2(col("embedding"), col("q_emb")))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    val rerankTop3 = rescored.withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= 3)
      .groupBy(col("q_id"))
      .agg(collect_set(col("vec_id")).as("rr_cands"))
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.DotProductD(a, b)
    val truth = emb
      .withColumn("aa", dot(col("embedding"), col("embedding")))
      .crossJoin(broadcast(queries
        .withColumn("bb", dot(col("q_emb"), col("q_emb")))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d2", round(
        col("aa") - lit(2.0) * dot(col("embedding"), col("q_emb")) + col("bb"), 4))
      .groupBy(col("q_id"))
      .agg(min_by(col("vec_id"), struct(col("d2"), col("vec_id"))).as("true_nn"))
    truth
      .join(adcTop3, Seq("q_id"), "left")
      .join(rerankTop3, Seq("q_id"), "left")
      .select(col("q_id"),
        when(array_contains(col("adc_cands"), col("true_nn")), 1).otherwise(0).as("hit_adc"),
        when(array_contains(col("rr_cands"), col("true_nn")), 1).otherwise(0).as("hit_rr"))
      .agg(count(lit(1)).as("n_queries"),
        (sum(col("hit_adc")).cast("double") / count(lit(1))).as("recall_adc"),
        (sum(col("hit_rr")).cast("double") / count(lit(1))).as("recall"))
      .select(lit(s"opq_k$k").as("method"), col("n_queries"),
        col("recall_adc"), col("recall"))
  }
}
