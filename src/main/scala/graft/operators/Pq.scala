package graft.operators

import graft.Tables
import graft.functions.DotProductD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the vector-compression half of the
  * IVF-PQ index every billion-scale ANN deployment runs: split each
  * d-dim embedding into [[numSubspaces]] contiguous subvectors, train a
  * [[codebookSize]]-centroid codebook per subspace (k-means), and
  * represent each vector by its M nearest-centroid codes — d floats
  * become M small ints (64×4 bytes → 8 codes here, a 32× compression),
  * and query-time distance is a table lookup per subspace (ADC,
  * asymmetric distance computation) instead of d multiplies.
  *
  * Training mirrors the [[Similarity]] IVF discipline exactly: seeds =
  * the subvectors of the K smallest vec_ids, two Lloyd iterations,
  * assignment by ROUNDED squared-L2 (4 decimals, ties to the smallest
  * centroid id), per-(subspace, cell, dim) means via an ordered fold —
  * every float op deterministic, so the DuckDB oracle replays the
  * whole codebook bit-for-bit. The trained codebook is an
  * O(M·K·d/M) = O(K·d) driver artifact (1 KB here), memoized per
  * dataset like the IVF centroids.
  *
  * Scale shape (100 TB): training touches each vector once per Lloyd
  * pass (narrow, map-side-combined argmin, broadcast codebook);
  * encoding is one broadcast-join pass emitting M codes per vector;
  * ADC search in this SQL-expressible form is a (query-LUT × codes)
  * equi-join on (subspace, code) with an ordered-fold sum — the shape
  * a real deployment replaces with per-query lookup tables inside
  * `mapPartitions` over packed code arrays, same dataflow, no shuffle
  * change.
  */
object Pq {

  /** M subspaces × (d/M) dims; d=64 here → 8-dim subvectors. */
  val numSubspaces = 8

  /** Default K centroids per subspace codebook. 32 keeps the
    * SQL-replayed training cheap for the certified default rows;
    * [[productionCodebookSize]] is the standard byte-code width.
    */
  val codebookSize = 32

  /** The production codebook width: K=256 entries per subspace, so a
    * code is exactly one byte and the M codes of a vector pack into an
    * M-byte word — the canonical PQ layout (Jégou et al. 2011). The
    * `ann_pq_codes_k256` / `ann_pq_recall_k256` rows certify training,
    * byte-packed encoding, and the recall gain over K=32.
    */
  val productionCodebookSize = 256

  /** Lloyd iterations per subspace — the IVF setting. */
  val pqLloydIters = 2

  /** Rounded squared-L2 between a subvector and a centroid, from three
    * ordered-fold dots (‖a‖² − 2a·b + ‖b‖², each ascending-index) —
    * the formula the oracle mirrors term-for-term before rounding.
    */
  private[operators] def dist2(sub: Column, cent: Column): Column =
    round(DotProductD(sub, sub) - lit(2.0) * DotProductD(sub, cent) +
      DotProductD(cent, cent), 4)

  /** (vec_id, m, sub) — one row per vector per subspace. */
  private[graft] def subspaceRows(emb: DataFrame): DataFrame = {
    val subDim = expr(s"size(embedding) div $numSubspaces")
    emb.select(col("vec_id"),
        explode(array((0 until numSubspaces).map(m =>
          struct(lit(m).as("m"),
            slice(col("embedding"), (lit(m) * subDim + 1).cast("int"),
              subDim.cast("int")).as("sub"))
        ): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
  }

  /** Nearest-codebook-entry assignment: min over rounded dist2, ties to
    * the smallest centroid id — one broadcast×rows pass collapsed by a
    * map-side-combined `min_by` (one row per (vector, subspace) reaches
    * the shuffle). The self-dot terms are hoisted OUT of the pair loop
    * (‖a‖² once per subvector row, ‖b‖² once per codebook entry — the
    * K-fold fan-out evaluates ONE dot per pair instead of three, the
    * same precompute the oracle replay runs); each dot stays its own
    * ascending fold and the combine + rounding are [[dist2]]'s exactly,
    * so assignments are bit-identical.
    */
  private[graft] def assign(sub: DataFrame, codebook: DataFrame): DataFrame =
    sub.withColumn("aa", DotProductD(col("sub"), col("sub")))
      .join(broadcast(codebook
        .withColumn("bb", DotProductD(col("c_emb"), col("c_emb")))), "m")
      .withColumn("d2", round(
        col("aa") - lit(2.0) * DotProductD(col("sub"), col("c_emb")) + col("bb"), 4))
      .groupBy(col("vec_id"), col("m"))
      .agg(
        min_by(col("c_id"), struct(col("d2"), col("c_id"))).as("code"),
        min(struct(col("d2"), col("c_id"))).getField("d2").as("qerr"),
        first(col("sub")).as("sub"))

  /** Per-(subspace, cell, dim) centroid means via the ordered
    * (vec_id, value) fold — deterministic doubles, mirrored by the
    * oracle's `list_reduce` (same discipline as `Similarity.cellMeans`).
    */
  private def means(assigned: DataFrame): DataFrame =
    assigned
      .select(col("m"), col("code").as("c_id"), col("vec_id"),
        posexplode(col("sub")).as(Seq("pos", "v")))
      .groupBy(col("m"), col("c_id"), col("pos"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("v").cast("double").as("v")))).as("xs"))
      .withColumn("mean",
        expr("aggregate(xs, CAST(0 AS DOUBLE), (acc, x) -> acc + x.v)") / size(col("xs")))
      .groupBy(col("m"), col("c_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mean")))).as("ps"))
      .select(col("m"), col("c_id"),
        expr("transform(ps, p -> p.mean)").as("c_emb"))

  /** [[means]] on the production path: plain per-dim `avg` per
    * (subspace, cell) — constant aggregation state per (m, c_id, pos)
    * group however large a cell grows. This matters MORE for PQ than
    * for IVF: K is fixed (256) in production, so cell size is N/K —
    * linear in the corpus, not √N. Reuses
    * [[Similarity.groupedMeansProd]] (one copy of the plain-avg plan
    * shape across the IVF and PQ trainers). Float reassociation vs the
    * ordered fold is why this path is bench+spec covered rather than
    * hash-oracled.
    */
  private def meansProd(assigned: DataFrame): DataFrame =
    Similarity.groupedMeansProd(
      assigned.select(col("m"), col("code").as("c_id"),
        col("sub").as("embedding")),
      Seq("m", "c_id"))

  /** Production encode: broadcast the O(K·d) codebook artifact, stream
    * the corpus ONCE through `mapPartitions`, and emit each vector's M
    * nearest-entry codes — no K-fold join fan-out, no shuffle (a
    * narrow projection), K·d multiply-adds per subvector in a tight
    * scalar loop. Arithmetic is [[dist2Scalar]]'s (= [[dist2]]
    * bit-exactly: float widened to double, index-order folds, round4)
    * with the same smallest-c_id tie rule (entries scanned in
    * ascending c_id order under a strict `<`), so the emitted codes
    * are row-identical to [[assign]]'s — spec-pinned. Emits the
    * per-subspace quantization error too (the min ROUNDED distance —
    * rounding is monotone so it commutes with min, bit-equal to the
    * SQL path's qerr) and carries the (double-widened) subvector so a
    * training iteration can feed [[meansProd]] without re-joining the
    * corpus. This is the engine's one encode path: the certified codes
    * rows, the stored indexes, and the production build all run it;
    * [[assign]] remains the oracle-shaped SQL twin the certified
    * trainer replays and the parity spec pins it against.
    */
  private[graft] def encodeScalar(emb: DataFrame,
      codebook: Seq[(Int, Long, Seq[Double])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m0 = numSubspaces
    // per subspace, ascending c_id: (c_id, centroid, ‖centroid‖²).
    // The self-dot is hoisted out of the argmin loop: each of
    // [[dist2Scalar]]'s three accumulators folds independently in index
    // order, so precomputing bb (and aa, below) is bit-identical.
    val byM: Array[Array[(Long, Array[Double], Double)]] = {
      val g = codebook.groupBy(_._1)
      Array.tabulate(m0)(m =>
        g.getOrElse(m, Seq.empty).sortBy(_._2)
          .map { t =>
            val c = t._3.toArray
            var bb = 0.0; var i = 0
            while (i < c.length) { bb += c(i) * c(i); i += 1 }
            (t._2, c, bb)
          }.toArray)
    }
    val bc = spark.sparkContext.broadcast(byM)
    // accept float OR double embedding arrays (the OPQ path encodes
    // the rotated double corpus): the explicit widening cast is a
    // no-op on doubles and bit-exact on floats — identical arithmetic
    // to the previous per-element .toDouble
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cb = bc.value
        it.flatMap { case (vid, e) =>
          val d = e.length / m0
          (0 until m0).iterator.flatMap { m =>
            val ents = cb(m)
            // an empty subspace codebook assigns nothing — the
            // inner-join semantics of the SQL path on degenerate corpora
            if (ents.isEmpty) Iterator.empty
            else {
              val sub = Array.tabulate(d)(i => e(m * d + i))
              var aa = 0.0; var i = 0
              while (i < d) { aa += sub(i) * sub(i); i += 1 }
              // champion under the SQL rule: first (ascending c_id)
              // entry achieving the min ROUNDED distance. Rounding is
              // monotone, so a raw distance >= the best raw seen can
              // never strictly beat the rounded champion — round4 (a
              // BigDecimal op, hostile in a K-wide inner loop) runs
              // only on strict raw improvements, O(log K) expected.
              var best = 0L; var bestRaw = Double.PositiveInfinity
              var bestRounded = Double.PositiveInfinity
              var j = 0
              while (j < ents.length) {
                val ent = ents(j)
                val c = ent._2
                var ab = 0.0; var p = 0
                while (p < d) { ab += sub(p) * c(p); p += 1 }
                val raw = aa - 2.0 * ab + ent._3
                if (raw < bestRaw) {
                  bestRaw = raw
                  val r = round4(raw)
                  if (r < bestRounded) { bestRounded = r; best = ent._1 }
                }
                j += 1
              }
              // bestRounded = round4(min raw) = min(round4) by
              // monotonicity — bit-equal to the SQL path's qerr
              Iterator.single((vid, m, best, bestRounded, sub.toSeq))
            }
          }
        }
      }.toDF("vec_id", "m", "code", "qerr", "sub")
  }

  /** [[trainCodebook]] in its production form: same seed rule, but
    * each Lloyd iteration is [[encodeScalar]] (one narrow corpus pass,
    * broadcast codebook, zero joins) feeding [[meansProd]] (plain-avg,
    * no per-member fold) — the plan shape an index build runs at
    * 10¹¹ vectors, where a K-fold join fan-out and per-member
    * collect_list buffers are both hostile. NOT memoized: the bench
    * row exists to keep the production build cost visible every run.
    * Equivalence to the ordered-fold trainer is spec-pinned
    * (assignment bit-identical; means within float-reassociation
    * tolerance).
    */
  private[graft] def trainCodebookProd(spark: SparkSession, dir: String,
      k: Int = productionCodebookSize): Seq[(Int, Long, Seq[Double])] = {
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    // seeds: the subvectors of the K smallest vec_ids, c_id = vec_id
    // (same rule as the certified trainer; K·d doubles, driver-side)
    var codebook: Seq[(Int, Long, Seq[Double])] =
      emb.select(col("vec_id"), col("embedding")).orderBy("vec_id").limit(k)
        .as[(Long, Seq[Float])].collect().toSeq
        .flatMap { case (vid, e) =>
          val d = e.length / numSubspaces
          (0 until numSubspaces).map(m =>
            (m, vid, e.slice(m * d, m * d + d).map(_.toDouble).toSeq))
        }
    var out: Seq[(Int, Long, Seq[Double])] = null
    for (_ <- 1 to pqLloydIters) {
      out = meansProd(encodeScalar(emb, codebook))
        .as[(Int, Long, Seq[Double])].collect().toSeq
      codebook = out
    }
    out
  }

  /** Production PQ index build end-to-end (the `ann_pq_build_prod`
    * bench row): train the K=256 codebook with [[trainCodebookProd]],
    * encode the corpus with [[encodeScalar]], dense-remap and
    * byte-pack — the complete pipeline a deployment runs at
    * index-build time. No join fan-out, no per-member fold anywhere in
    * the measured plans; the only shuffle is the pack's one
    * map-side-combined aggregate. Output = the stored code table (one
    * row per vector).
    */
  def pqBuildProd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cb = trainCodebookProd(spark, dir)
    val cbDf = cb.toDF("m", "c_id", "c_emb")
    packFrom(encodeScalar(Tables(spark, dir, "embeddings"), cb)
      .select(col("vec_id"), col("m"), col("code")), cbDf)
  }

  /** The trained codebook as a driver-side model artifact:
    * (subspace, centroid id, centroid) — O(K·d) doubles, memoized per
    * (dataset dir content version, K) under the
    * [[graft.ModelStore.pq]] stamp, so a regenerated dataset retrains
    * instead of serving a stale model and a store reload installs into
    * the same slot.
    */
  def trainedCodebook(spark: SparkSession, dir: String,
      k: Int = codebookSize): Seq[(Int, Long, Seq[Double])] =
    graft.Memo(graft.ModelStore.pq(k).stamp(dir))(trainCodebook(spark, dir, k))

  private def trainCodebook(spark: SparkSession, dir: String,
      k: Int): Seq[(Int, Long, Seq[Double])] =
    trainCodebookOn(Tables(spark, dir, "embeddings"), k)

  /** The certified (ordered-fold, oracle-replayed) trainer over ANY
    * (vec_id, embedding) frame — float or double arrays. Extracted so
    * the OPQ path can train the same oracle-shaped codebook on the
    * ROTATED corpus ([[Opq]]): same seed rule, same rounded-assignment
    * Lloyd rounds, bit-replayable by the same CTE chain pointed at the
    * rotated relation.
    */
  private[operators] def trainCodebookOn(emb: DataFrame,
      k: Int): Seq[(Int, Long, Seq[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sub = subspaceRows(emb).localCheckpoint(true)
    // seeds: the subvectors of the K smallest vec_ids, c_id = vec_id
    // (TakeOrdered over distinct ids — robust on sparse id spaces)
    val seedIds = emb.select("vec_id").orderBy("vec_id")
      .limit(k).as[Long].collect().toSet
    var codebook = sub.filter(col("vec_id").isInCollection(seedIds))
      .select(col("m"), col("vec_id").as("c_id"),
        expr("transform(sub, x -> CAST(x AS DOUBLE))").as("c_emb"))
    var out: Seq[(Int, Long, Seq[Double])] = null
    for (_ <- 1 to pqLloydIters) {
      out = means(assign(sub, codebook))
        .as[(Int, Long, Seq[Double])].collect().toSeq
      codebook = out.toDF("m", "c_id", "c_emb")
    }
    out
  }

  private[graft] def codebookDf(spark: SparkSession, dir: String,
      k: Int = codebookSize): DataFrame = {
    import spark.implicits._
    trainedCodebook(spark, dir, k).toDF("m", "c_id", "c_emb")
  }

  /** Driver-checked encode pass: every vector's M codes plus the
    * per-subspace quantization error — the compression audit row. Runs
    * the production [[encodeScalar]] (narrow mapPartitions pass, no
    * K-fold join fan-out); the oracle replays the SQL [[assign]] form
    * and the results are bit-identical (spec-pinned).
    */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    encodeScalar(Tables(spark, dir, "embeddings"),
        trainedCodebook(spark, dir))
      .select(col("vec_id"), col("m"), col("code"), col("qerr"))
      .orderBy("vec_id", "m")

  /** Dense [0, K) code ids for a trained codebook: rank of the
    * surviving entry's c_id within its subspace. Training keeps seed
    * vec_ids as centroid ids; byte-packing needs codes in [0, 256), so
    * the dense remap is part of the production encode path.
    */
  private[operators] def denseCodebookIds(cb: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("m")).orderBy(col("c_id"))
    cb.select(col("m"), col("c_id"), (row_number().over(w) - 1).as("dense"))
  }

  /** Byte-packed encode at production width (K=256 by default): every
    * vector reduced to ONE row holding its M codes as an M-byte hex
    * word (two hex chars per subspace, subspace order) — 64 floats →
    * 8 bytes, the 32× compression a billion-scale index actually
    * stores. The dense remap + pack is one broadcast join + one
    * map-side-combined aggregate; no extra shuffle over the encode
    * pass itself.
    */
  def pqCodesPacked(spark: SparkSession, dir: String,
      k: Int = productionCodebookSize): DataFrame =
    packedCodes(spark, dir, k).orderBy("vec_id")

  /** Dense-remap + pack a (vec_id, m, code) table into one hex word
    * per vector (no presentation sort).
    */
  private[operators] def packFrom(codes: DataFrame, cb: DataFrame): DataFrame = {
    val dense = denseCodebookIds(cb)
    codes.join(broadcast(dense),
        codes("m") === dense("m") && codes("code") === dense("c_id"))
      .select(col("vec_id"), codes("m").as("sm"), col("dense"))
      .groupBy(col("vec_id"))
      .agg(concat_ws("",
        transform(sort_array(collect_list(struct(col("sm"), col("dense")))),
          x => format_string("%02x", x.getField("dense")))).as("code_packed"))
  }

  private def packedCodes(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val cb = codebookDf(spark, dir, k)
    packFrom(encodeScalar(Tables(spark, dir, "embeddings"),
        trainedCodebook(spark, dir, k))
      .select(col("vec_id"), col("m"), col("code")), cb)
  }

  /** The stored (vec_id, m, code) index the join-form ADC scans —
    * built once per session with the production [[encodeScalar]] pass.
    * A deployment encodes the corpus ONCE at index-build time and
    * serves every query against the stored code table, so the ADC
    * bench rows measure the QUERY path (scan + shortlist merge), not a
    * per-query re-encode. Unlike the codebook artifact the stored
    * indexes stay DISTRIBUTED (eager localCheckpoint pins
    * executor-side blocks); nothing is collected.
    */
  private def indexedCodes(spark: SparkSession, dir: String, k: Int): DataFrame =
    graft.Memo(graft.DataVersion.sessionKey(spark, dir, "embeddings", s"$k#codes"))(
      encodeScalar(Tables(spark, dir, "embeddings"), trainedCodebook(spark, dir, k))
        .select(col("vec_id"), col("m"), col("code"))
        .localCheckpoint(true))

  /** The stored byte-packed index the packed-LUT scan reads. */
  private def indexedPacked(spark: SparkSession, dir: String, k: Int): DataFrame =
    graft.Memo(graft.DataVersion.sessionKey(spark, dir, "embeddings", s"$k#packed"))(
      packFrom(indexedCodes(spark, dir, k), codebookDf(spark, dir, k))
        .select(col("vec_id"), unhex(col("code_packed")).as("codes"))
        .localCheckpoint(true))

  /** Two-stage recall at an explicit codebook width — certifies the
    * accuracy gain of the production K over the default (same sample,
    * same scaffolding, so the two rows differ only in K).
    */
  def pqRecallAtK(spark: SparkSession, dir: String, k: Int): DataFrame =
    twoStageRecall(spark, dir, pqSampleQueries, candidatePairs = None,
      method = s"pq_k$k", k = k)

  /** Join-form ADC shortlist as a standalone (bench) query over the
    * STORED code index — the SQL-expressible baseline [[pqAdcPacked]]
    * is measured against (same index-build amortization, so the bench
    * delta is purely the scan form).
    */
  def pqAdcJoin(spark: SparkSession, dir: String,
      k: Int = productionCodebookSize): DataFrame =
    adcJoinShortlist(Tables(spark, dir, "embeddings"),
        codebookDf(spark, dir, k), pqBenchQueries, candidatePairs = None,
        codesOverride = indexedCodes(spark, dir, k))
      .orderBy("q_id", "rn")

  /** Spark `round(_, 4)` replicated exactly for driver/executor-side
    * scalar code: `BigDecimal.valueOf` (shortest-decimal semantics,
    * what Spark's Round uses for doubles), HALF_UP.
    */
  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Rounded squared-L2 between two double vectors with the exact
    * [[dist2]] arithmetic (three independent ascending-order
    * accumulators, then ‖a‖² − 2a·b + ‖b‖², rounded) — the scalar twin
    * the packed-LUT path uses to build lookup tables.
    */
  private def dist2Scalar(a: Array[Double], b: Array[Double]): Double = {
    var aa = 0.0; var ab = 0.0; var bb = 0.0; var i = 0
    while (i < a.length) {
      aa += a(i) * a(i); ab += a(i) * b(i); bb += b(i) * b(i); i += 1
    }
    round4(aa - 2.0 * ab + bb)
  }

  /** Production ADC: per-query float lookup tables over BYTE-PACKED
    * code arrays inside `mapPartitions` — the form the [[Pq]] doc
    * promises a deployment swaps the join for. The LUT set (one
    * K-entry table per query per subspace, built from the driver-side
    * codebook artifact with [[dist2Scalar]]) rides an executor
    * broadcast; each partition streams its packed codes once, scores a
    * candidate with M table lookups + M adds (no joins, no per-pair
    * shuffle), and keeps a bounded per-query top-[[pqShortlist]] heap,
    * so a partition emits at most queries×shortlist rows. The final
    * per-query window merges partition champions — identical dataflow
    * to the join form (one pass over codes, one tiny shuffle), with
    * the arithmetic pinned to the same rounded doubles and (adc,
    * vec_id) tie rule; the parity spec asserts row-exact agreement.
    */
  def pqAdcPacked(spark: SparkSession, dir: String,
      k: Int = productionCodebookSize): DataFrame =
    adcPackedShortlist(spark, dir, pqBenchQueries, k)
      .orderBy("q_id", "rn")

  /** The packed-LUT shortlist without the presentation sort — the form
    * [[twoStageRecall]] consumes for its unrestricted (whole-corpus)
    * audits. Row-exact with [[adcJoinShortlist]] (parity spec-pinned at
    * both widths), so the certified recall rows stay hash-green while
    * the engine side runs the production scan.
    */
  private[operators] def adcPackedShortlist(spark: SparkSession, dir: String,
      sample: DataFrame => DataFrame,
      k: Int = productionCodebookSize): DataFrame =
    adcPackedShortlistOn(spark, Tables(spark, dir, "embeddings"),
      trainedCodebook(spark, dir, k), indexedPacked(spark, dir, k), sample)

  /** The packed-LUT scan over an EXPLICIT (corpus, codebook, packed
    * index) triple — the OPQ recall row aims it at the rotated corpus
    * and its codebook; the plain-PQ entry above binds the stored
    * artifacts. Accepts float or double embedding arrays (the same
    * widening cast as [[encodeScalar]]).
    */
  private[operators] def adcPackedShortlistOn(spark: SparkSession,
      corpus: DataFrame, codebook: Seq[(Int, Long, Seq[Double])],
      packed: DataFrame, sample: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val m0 = numSubspaces
    val shortN = pqShortlist
    // dense-ordered centroids per subspace: cents(m)(dense)(dim)
    // (a subspace can be absent entirely on a degenerate/empty corpus)
    val byM = codebook.groupBy(_._1)
    val cents: Array[Array[Array[Double]]] = Array.tabulate(m0)(m =>
      byM.getOrElse(m, Seq.empty).sortBy(_._2).map(_._3.toArray).toArray)
    // per-query LUTs: luts(m)(dense) = rounded dist2(query sub, centroid)
    val queries: Array[(Long, Array[Array[Double]])] =
      sample(corpus).select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
        .as[(Long, Seq[Double])].collect()
        .map { case (qid, e) =>
          val d = e.length / m0
          (qid, Array.tabulate(m0) { m =>
            val sub = Array.tabulate(d)(i => e(m * d + i))
            cents(m).map(c => dist2Scalar(sub, c))
          })
        }
    val bq = spark.sparkContext.broadcast(queries)
    val partTop = packed
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val qs = bq.value
        val ord = Ordering.Tuple2[Double, Long]
        val heaps = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
        it.foreach { case (vid, codes) =>
          var qi = 0
          while (qi < qs.length) {
            val (qid, lut) = qs(qi)
            if (qid != vid) {
              var s = 0.0; var m = 0
              while (m < m0) { s += lut(m)(codes(m) & 0xff); m += 1 }
              val adc = round4(s)
              val h = heaps.getOrElseUpdate(qid,
                scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
              if (h.size < shortN) h.enqueue((adc, vid))
              else if (ord.lt((adc, vid), h.head)) { h.dequeue(); h.enqueue((adc, vid)) }
            }
            qi += 1
          }
        }
        heaps.iterator.flatMap { case (q, h) =>
          h.iterator.map { case (a, v) => (q, v, a) } }
      }
      .toDF("q_id", "vec_id", "adc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    partTop.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortN)
      .select("q_id", "vec_id", "adc", "rn")
  }

  /** Deterministic PQ query sample predicate: sparser than the IVF
    * rows' 1-in-5 (the ADC join fans out Q·N·M rows in this
    * SQL-expressible form — a sparse sample keeps the measurement row
    * proportionate; a deployment runs per-query LUTs instead). Like
    * the IVF sample, the audit set is capped at a FIXED
    * [[Similarity.annQuerySampleSize]] queries (smallest matching ids,
    * TakeOrdered) so the truth-side cartesian is O(N·sample), not
    * O(N²/25), and the query broadcast stays constant-size as the
    * corpus grows.
    */
  private val pqQueryPredicate = col("vec_id") % 25 === 3

  private[operators] def pqSampleQueries(df: DataFrame): DataFrame =
    df.filter(pqQueryPredicate).sort("vec_id")
      .limit(Similarity.annQuerySampleSize)

  /** Query-sample size for the two scan-form COMPARISON bench rows
    * ([[pqAdcJoin]] vs [[pqAdcPacked]]): both scale linearly in the
    * query count, so the join-vs-packed delta is per-query and a
    * quarter sample prices it at a quarter of the bench cost. The
    * certified recall rows keep the full
    * [[Similarity.annQuerySampleSize]] sample.
    */
  val pqBenchSampleSize = 64

  private[operators] def pqBenchQueries(df: DataFrame): DataFrame =
    df.filter(pqQueryPredicate).sort("vec_id").limit(pqBenchSampleSize)

  /** ADC shortlist size for the exact re-rank stage. */
  val pqShortlist = 10

  /** Recall of PQ search vs exact squared-L2 over the sampled queries
    * — BOTH stages of the canonical two-stage retrieval, so the
    * re-rank lever stays driver-visible: `recall_adc` is rank-3 recall
    * of the raw compressed-domain ranking, `recall` is rank-3 after
    * exact re-scoring of the ADC top-[[pqShortlist]] shortlist (the
    * re-rank touches [[pqShortlist]] full vectors per query — the
    * 100 TB pattern: compressed scan first, exact arithmetic on a
    * constant-size shortlist). ADC per (query, candidate) =
    * ordered-fold sum over the M distance-table terms; truth =
    * full-vector L2 argmin.
    */
  def pqRecall(spark: SparkSession, dir: String): DataFrame =
    twoStageRecall(spark, dir, pqSampleQueries, candidatePairs = None,
      method = "pq", k = codebookSize)

  /** ADC shortlist in the SQL-expressible JOIN form: per-query
    * distance tables equi-joined against candidate codes, the M terms
    * ordered-folded (cross-engine deterministic doubles), then the
    * top-[[pqShortlist]] window per query. Output (q_id, vec_id, adc,
    * rn) — the one copy of the rounding/tie rules [[twoStageRecall]],
    * [[pqAdcJoin]] and the packed-LUT parity spec all share.
    */
  private[operators] def adcJoinShortlist(emb: DataFrame, cb: DataFrame,
      sample: DataFrame => DataFrame,
      candidatePairs: Option[DataFrame],
      codesOverride: DataFrame = null): DataFrame = {
    val codes = Option(codesOverride).getOrElse(
      assign(subspaceRows(emb), cb)
        .select(col("vec_id"), col("m"), col("code")))
    // per-query distance table: rounded dist2 to EVERY codebook entry
    val lut = subspaceRows(sample(emb))
      .withColumnRenamed("vec_id", "q_id")
      .join(broadcast(cb), "m")
      .select(col("q_id"), col("m"), col("c_id"),
        dist2(col("sub"), col("c_emb")).as("term"))
    // ADC: join candidates' codes against the LUT, then sum the M
    // terms in ascending-m order. One CODEGEN'D conditional sum per
    // subspace (m is unique per (q, vec) group, so each sum is exactly
    // that subspace's term) replaces the former collect_list +
    // sort_array + interpreted `aggregate` lambda — higher-order
    // functions run on the interpreted path, 10-100× too slow for a
    // per-candidate hot loop (guide §1.2 step 2 / repo gotcha). The
    // read-off (0.0 + t0) + t1 + … reproduces the fold's IEEE op
    // sequence bit-for-bit (same ascending-m order, same 0.0 seed).
    val termSums = (0 until numSubspaces).map(i =>
      coalesce(sum(when(col("__m") === i, col("term"))), lit(0.0)).as(s"t$i"))
    val adcPairs = candidatePairs match {
      case None =>
        codes
          .join(lut, codes("m") === lut("m") && codes("code") === lut("c_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("__m", codes("m"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(termSums.head, termSums.tail: _*)
      case Some(cand) =>
        cand
          .join(codes, "vec_id")
          .join(lut, Seq("q_id", "m"))
          .filter(col("c_id") === col("code"))
          .withColumn("__m", col("m"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(termSums.head, termSums.tail: _*)
    }
    val adc = adcPairs.select(col("q_id"), col("vec_id"),
      round((lit(0.0) +: (0 until numSubspaces).map(i => col(s"t$i")))
        .reduce(_ + _), 4).as("adc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    adc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pqShortlist)
      .select("q_id", "vec_id", "adc", "rn")
  }

  /** Shared two-stage retrieval + recall scaffolding — the ONE copy of
    * the delicate ADC ordered-fold / shortlist-window / exact-re-rank /
    * truth-argmin logic both [[pqRecall]] and [[IvfPq.ivfPqRecall]]
    * replay against the oracle (keeping two copies of the rounding/tie
    * rules in sync was an audit hazard).
    *
    * @param sample  fixed-size deterministic query sampler (applied to
    *                the raw embeddings table)
    * @param candidatePairs  optional (q_id, vec_id) candidate
    *                restriction (IVF cell probing); None scores the
    *                sample against the whole corpus
    * @param k  codebook width; the audit scans the STORED code index
    *                at this width — a production recall audit measures
    *                the index as served, and the encode/pack build
    *                cost stays bench-visible via the codes rows
    */
  private[graft] def twoStageRecall(spark: SparkSession, dir: String,
      sample: DataFrame => DataFrame,
      candidatePairs: Option[DataFrame], method: String,
      k: Int = codebookSize): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val cb = codebookDf(spark, dir, k)
    // evaluate the query sampler ONCE — each evaluation is a full-scan
    // TakeOrdered job; the fixed-size result is checkpointed and feeds
    // both the ADC LUT build and the truth/re-rank query frame
    val sampled = sample(emb).localCheckpoint(true)
    // unrestricted audits scan the stored PACKED index with per-query
    // LUTs (the production form — row-exact with the join form,
    // parity spec-pinned); the cell-restricted IVF-PQ audit keeps the
    // join form, since its candidate set grows with √N per query and
    // belongs in an equi-join, not a driver broadcast
    val shortlist = candidatePairs match {
      case None => adcPackedShortlist(spark, dir, _ => sampled, k)
      case Some(_) => adcJoinShortlist(emb, cb, _ => sampled, candidatePairs,
        codesOverride = indexedCodes(spark, dir, k))
    }
    val adcTop3 = shortlist.filter(col("rn") <= 3)
      .groupBy(col("q_id"))
      .agg(collect_set(col("vec_id")).as("adc_cands"))
    // stage 2: exact re-score of the shortlist (full vectors, rounded
    // d2, same tie rule), then rank-3
    val queries = sampled
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val rescored = shortlist.select("q_id", "vec_id")
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "q_id")
      .withColumn("d2", dist2(col("embedding"), col("q_emb")))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))
    val rerankTop3 = rescored.withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= 3)
      .groupBy(col("q_id"))
      .agg(collect_set(col("vec_id")).as("rr_cands"))
    // exact truth over the same sample: full-vector squared L2 argmin,
    // self-dots hoisted out of the O(N·sample) cartesian (same
    // term-identical split as [[assign]])
    val truth = emb
      .withColumn("aa", DotProductD(col("embedding"), col("embedding")))
      .crossJoin(broadcast(queries
        .withColumn("bb", DotProductD(col("q_emb"), col("q_emb")))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d2", round(
        col("aa") - lit(2.0) * DotProductD(col("embedding"), col("q_emb")) +
          col("bb"), 4))
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
      .select(lit(method).as("method"), col("n_queries"),
        col("recall_adc"), col("recall"))
  }
}
