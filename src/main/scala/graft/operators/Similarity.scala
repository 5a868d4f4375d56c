package graft.operators

import graft.Tables
import graft.functions.DotProductD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`) — the
  * north-star ANN surface: brute-force cosine top-k as the exactness
  * baseline, a sign-bucket (random-hyperplane-style LSH / coarse IVF)
  * variant as the scale path, and a near-duplicate pair finder.
  *
  * Numeric parity: dot products and norms are computed in DOUBLE via
  * ordered higher-order-function folds (`zip_with` + `aggregate`), then
  * rounded to 4 decimals before ranking, with vec_id as tiebreak — the
  * oracle computes the identical formula, so top-k sets match exactly.
  *
  * Scale notes: the query side is broadcast (top-k search is always
  * few-queries × many-candidates); candidates stream through one narrow
  * projection + a per-query top-k (window over rounded score). The
  * bucketed variant prunes candidates with an equi-join on the bucket
  * id before any arithmetic — the IVF pattern: at 100 TB you shuffle
  * once by bucket, not by pair.
  */
object Similarity {

  private def norm(a: Column): Column = sqrt(DotProductD(a, a))

  /** Sign-bucket id from the first 6 dimensions: a 64-way coarse
    * partition (fixed pseudo-hyperplanes = coordinate axes; determinism
    * keeps the oracle expressible).
    */
  private def bucket(emb: Column): Column =
    (0 until 6).map { j =>
      when(element_at(emb, j + 1) > 0f, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Embedding hygiene: flag vectors whose L2 norm falls outside the
    * exact [p1, p99] corpus percentiles — the degenerate-vector QC
    * pass (collapsed/exploded embeddings poison both ANN buckets and
    * cosine near-dup thresholds) a pipeline runs before indexing.
    * Norms are rounded to 4 decimals BEFORE the percentile + the
    * comparison, so the outlier predicate compares identical doubles
    * cross-engine; the two thresholds come back as a 1-row broadcast.
    */
  def normOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), round(norm(col("embedding")), 4).as("nrm"))
    val bounds = emb.agg(
      round(expr("percentile(nrm, 0.01)"), 4).as("lo"),
      round(expr("percentile(nrm, 0.99)"), 4).as("hi"))
    emb.crossJoin(broadcast(bounds))
      .select(col("vec_id"), col("nrm").as("l2_norm"),
        (col("nrm") < col("lo") || col("nrm") > col("hi")).as("is_outlier"))
      .orderBy("vec_id")
  }

  /** Brute-force cosine top-5 for query vectors vec_id < 8 against the
    * full corpus. Exact baseline for ANN recall measurement.
    */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    // Norms are precomputed per row BEFORE the pair join — identical
    // doubles (same fold order), but each vector's norm is evaluated
    // once instead of once per pair.
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(DotProductD(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 4).as("cos"))
    topPerQuery(scored, 5)
  }

  /** Bucketed ANN: candidates pruned to the query's sign-bucket before
    * scoring (recall < 1 by design — this is the scale path; pair with
    * [[bruteForceTopK]] to measure recall).
    */
  def bucketedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("bucket", bucket(col("embedding")))
      .withColumn("nrm", norm(col("embedding")))
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"), col("nrm").as("q_nrm"))
    val scored = emb.join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(DotProductD(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 4).as("cos"))
    topPerQuery(scored, 3)
  }

  /** Embedding near-duplicate pairs on a deterministic sample (vec_id
    * ≡ 0 and ≡ 1 mod 7), same-label, cosine ≥ 0.25.
    */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    val a = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("a_id"), col("label"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = emb.filter(col("vec_id") % 7 === 1)
      .select(col("vec_id").as("b_id"), col("label").as("b_label"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, col("label") === col("b_label") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("label"),
        round(DotProductD(col("a_emb"), col("b_emb")) /
          (col("a_nrm") * col("b_nrm")), 4).as("cos"))
      .filter(col("cos") >= 0.25)
      .orderBy("a_id", "b_id")
  }

  /** Recall@k of the bucketed ANN path against the exact brute-force
    * baseline: the fraction of queries whose TRUE nearest neighbor
    * (brute-force rank-1) appears in the bucketed top-3 — the
    * measurement every approximate index ships with, as a first-class
    * query. Both sides reuse the production operators; the aggregate
    * is one tiny join on (q_id).
    */
  def bucketedRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = bruteForceTopK(spark, dir)
      .filter(col("rn") === 1)
      .select(col("q_id"), col("vec_id").as("true_nn"))
    val approx = bucketedTopK(spark, dir)
      .select(col("q_id"), col("vec_id"))
    truth.join(approx, Seq("q_id"), "left")
      .groupBy(col("q_id"))
      .agg(max(when(col("vec_id") === col("true_nn"), 1).otherwise(0)).as("hit"))
      .agg(count(lit(1)).as("n_queries"),
        (sum(col("hit")).cast("double") / count(lit(1))).as("recall"))
      .select(lit("bucketed").as("method"), col("n_queries"), col("recall"))
  }

  /** Rank-1 recall of the TRAINED-IVF search against an exact
    * brute-force scan over the same query sample [[ivfTopK]] serves —
    * the honest-measurement companion to [[bucketedRecall]]: every ANN
    * variant ships with its recall row. Exposed at both nprobe=2 (the
    * production search) and nprobe=1, so the probe lever's recall gain
    * stays driver-visible round over round.
    */
  def ivfRecall(spark: SparkSession, dir: String,
                nprobe: Int = ivfNprobe): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    val queries = querySample(emb)
    val bf = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(DotProductD(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 4).as("cos"))
    // rank-1 as a map-side-combined argmax, not a window: the shuffle
    // carries one candidate per query per mapper instead of sorting
    // the full Q×N pair table; tie rule identical to topPerQuery
    // (max over (cos, -vec_id) = ORDER BY cos DESC, vec_id)
    val truth = bf.groupBy(col("q_id"))
      .agg(max_by(col("vec_id"), struct(col("cos"), -col("vec_id")))
        .as("true_nn"))
    val approx = ivfTopK(spark, dir, nprobe).select(col("q_id"), col("vec_id"))
    truth.join(approx, Seq("q_id"), "left")
      .groupBy(col("q_id"))
      .agg(max(when(col("vec_id") === col("true_nn"), 1).otherwise(0)).as("hit"))
      .agg(count(lit(1)).as("n_queries"),
        (sum(col("hit")).cast("double") / count(lit(1))).as("recall"))
      .select(lit(if (nprobe == 1) "ivf_np1" else "ivf").as("method"),
        col("n_queries"), col("recall"))
  }

  /** Lloyd iteration count for [[ivfTopK]]'s k-means training. Two
    * iterations move the first-k-vectors seed far enough to balance
    * cells on this corpus; more buys little (near-dup clusters converge
    * in 2-3 rounds) and each costs one assignment pass.
    */
  val lloydIters = 2

  /** Cap on the IVF cell count — bounds the driver-side centroid
    * artifact (the O(k·dims) doubles collected between Lloyd passes
    * and shipped into streams as literals) at ~32 MB for 64-dim
    * vectors, far past any corpus the √N rule reaches in practice.
    */
  val ivfMaxCells = 65536

  /** IVF cell count k = ⌈√N⌉ (capped at [[ivfMaxCells]]): cells hold
    * ~√N vectors each, so an nprobe-cell search scans ~nprobe·√N
    * candidates — the O(√N) per-query cost that survives corpus
    * growth, unlike a fixed k whose cells grow linearly with N and
    * degrade toward a full scan.
    */
  def ivfCellCount(n: Long): Int =
    math.min(math.ceil(math.sqrt(n.toDouble)).toLong, ivfMaxCells.toLong).toInt

  /** Cells probed per query. The probe ranking already scores every
    * centroid per query, so probing the top-2 cells costs one wider
    * equi-join fan-out (2 probe rows per query), not a new scan — the
    * standard IVF recall lever.
    */
  val ivfNprobe = 2

  /** Fixed size of the ANN search/recall-audit query sample. A
    * production recall audit runs a CONSTANT number of queries — a
    * sample that is a constant FRACTION of the corpus makes the audit's
    * exact-truth side (a queries×corpus cartesian) scale as O(N²) and
    * its broadcast grow linearly with N, which is a scale-killer the
    * production search paths never pay. 256 queries keeps the recall
    * estimate's standard error under ~3% while the truth work stays
    * O(N·256) with a constant-size broadcast at any corpus size.
    */
  val annQuerySampleSize = 256

  /** Deterministic query sample predicate for the ANN search + recall
    * rows: every fifth vector (vec_id ≡ 3 mod 5). Unbiased w.r.t. the
    * centroid seeds (vec_id < k), unlike a prefix range whose members
    * ARE seeds and trivially find their own cell — recall measured
    * here is honest out-of-seed behavior.
    */
  private val querySamplePredicate = col("vec_id") % 5 === 3

  /** The fixed-size sample: the [[annQuerySampleSize]] SMALLEST ids
    * satisfying [[querySamplePredicate]] — a TakeOrdered (O(N) scan,
    * O(sample) result, no global sort), same trick as the centroid
    * seeds. Column-agnostic so callers can sample the raw table or the
    * assigned one.
    */
  private[operators] def sampleQueries(df: DataFrame): DataFrame =
    df.filter(querySamplePredicate).sort("vec_id").limit(annQuerySampleSize)

  private def querySample(emb: DataFrame): DataFrame =
    sampleQueries(emb)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))

  /** Top-[[ivfNprobe]] probe cells per sampled query by rounded
    * centroid cosine (ties to the smallest c_id — the assignment
    * rule). Queries are corpus members, so probe cell 1 IS the
    * query's own assignment cell (already computed); cell 2 is one
    * map-side-combined argmax over the broadcast centroids with the
    * best cell excluded — O(1) aggregate state per query, no Q×k
    * window sort. Output: one row per (query, probe cell).
    */
  private[operators] def queryProbes(assigned: DataFrame, centroids: DataFrame,
                          nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= 2,
      "probe ranks beyond 2 need an exclusion set, not a single argmax")
    val queries = sampleQueries(assigned)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell").as("q_cell"))
    if (nprobe == 1) queries
    else {
      val cent = centroids
        .withColumn("c_nrm", sqrt(DotProductD(col("c_emb"), col("c_emb"))))
      val second = queries.crossJoin(broadcast(cent))
        .filter(col("c_id") =!= col("q_cell"))
        .withColumn("c_cos",
          round(DotProductD(col("q_emb"), col("c_emb")) /
            (col("q_nrm") * col("c_nrm")), 4))
        .groupBy(col("q_id"))
        .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id"))).as("q_cell"),
          first(col("q_emb")).as("q_emb"), first(col("q_nrm")).as("q_nrm"))
        .select(col("q_id"), col("q_emb"), col("q_nrm"), col("q_cell"))
      queries.unionByName(second)
    }
  }

  /** Cell assignment: every vector to its nearest centroid by rounded
    * cosine (ties to the smallest c_id). One broadcast×corpus pass +
    * a per-vector argmax window.
    *
    * @param centroids (c_id, c_emb: array<double>)
    */
  private[graft] def assignCells(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val cent = centroids
      .withColumn("c_nrm", sqrt(DotProductD(col("c_emb"), col("c_emb"))))
    // argmax as a max_by hash aggregate, not a row_number window: the
    // partial agg collapses the k candidate rows per vector map-side,
    // so the shuffle carries one row per vector instead of k, and no
    // sort runs. Tie semantics identical to ORDER BY c_cos DESC, c_id
    // (max over (c_cos, -c_id)); embedding/nrm are constant per vec_id
    // so first() is deterministic.
    emb.crossJoin(broadcast(cent))
      .withColumn("c_cos",
        round(DotProductD(col("embedding"), col("c_emb")) /
          (col("nrm") * col("c_nrm")), 4))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("c_id"), struct(col("c_cos"), -col("c_id"))).as("cell"),
        first(col("embedding")).as("embedding"),
        first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
  }

  /** Centroid update: element-wise mean per cell. The per-dimension sum
    * is an ordered fold over (vec_id, value) pairs — deterministic
    * double arithmetic the DuckDB oracle replays bit-for-bit
    * (distributed `avg` would sum in partition order and break hash
    * parity). Output is one row per non-empty cell.
    */
  private def cellMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("xs"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("pos"),
        (aggregate(col("xs"), lit(0.0),
          (acc, x) => acc + x.getField("v").cast("double")) / col("n")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("c_emb"))
      .select(col("cell").as("c_id"), col("c_emb"))

  /** PRODUCTION centroid update: plain per-(cell, dim) `avg` — O(1)
    * aggregation state per group and a map-side-combined partial sum,
    * regardless of cell size. The oracle-parity path above holds a
    * whole cell's members in one `collect_list` buffer so the DuckDB
    * oracle can replay the double sum bit-for-bit — fine at ~√N cell
    * sizes, hostile past the [[ivfMaxCells]] cap where cells grow
    * linearly with the corpus. This form is not bit-reproducible
    * across partition orders (float reassociation), so the CERTIFIED
    * rows keep the ordered fold; the equivalence spec pins both paths
    * to the same centroids within reassociation tolerance at test
    * scale, and `ann_ivf_assign_prod` benches this plan so the
    * production training cost stays tracked. The final per-cell
    * vector assembly's collect_list is over DIMS (bounded by
    * dimensionality), never over members.
    */
  private[graft] def cellMeansProd(assigned: DataFrame): DataFrame =
    groupedMeansProd(assigned, Seq("cell"))
      .select(col("cell").as("c_id"), col("c_emb"))

  /** The plain-avg mean plan itself, generic over the group key — ONE
    * copy of the posexplode → per-dim avg → dim-reassembly shape shared
    * by the flat trainer ([[cellMeansProd]], key = cell) and
    * [[IvfTwoLevel]]'s level-2 update (key = (cell, sub)). The final
    * collect_list is over DIMS, never members.
    */
  private[graft] def groupedMeansProd(assigned: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val gs = groupCols.map(col)
    assigned
      .select(gs :+ posexplode(col("embedding")).as(Seq("pos", "v")): _*)
      .groupBy(gs :+ col("pos"): _*)
      .agg(avg(col("v").cast("double")).as("dim_mean"))
      .groupBy(gs: _*)
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("dim_mean")))),
        x => x.getField("dim_mean")).as("c_emb"))
  }

  /** IVF (inverted-file) ANN with TRAINED centroids: k-means over the
    * corpus, k = [[ivfCellCount]] (⌈√N⌉, capped) — seeded
    * deterministically with the first k vectors, then [[lloydIters]]
    * Lloyd iterations (assign to nearest centroid, recompute
    * element-wise means) — then every vector is assigned to its final
    * cell and a query searches its top-[[ivfNprobe]] probe cells. All
    * arithmetic is order-pinned (rounded cosines, ordered mean folds)
    * so the DuckDB oracle replays training + assignment exactly.
    *
    * Scale shape: each Lloyd pass is one broadcast(k centroids)×corpus
    * projection + a map-side-combined argmax — no shuffle of the
    * corpus by pair; the mean update aggregates (cell, dim) cells,
    * output k×dims rows. The search is an equi-join on cell id — one
    * shuffle by cell, the same pattern as [[bucketedTopK]] with
    * learned partitions, and each probed cell holds ~√N vectors so
    * per-query work stays O(nprobe·√N) as the corpus grows.
    */
  /** The trained k-means centroids as a driver-side model artifact
    * (O(k·dims)) — what [[ivfTopK]] indexes with, and what
    * [[streamingCellScores]] ships into a stream as literals. See
    * [[ivfTopK]] for the training discipline. Training is
    * deterministic (fixed seed rule, ordered folds), so the artifact is
    * a pure function of the dataset version — real deployments train
    * the index ONCE and serve it: the first IVF query on a dataset pays
    * for training, later ones (other probe settings, recall audits,
    * streams) reuse the memoized model, keyed by the
    * [[graft.ModelStore.ivf]] stamp so a store reload installs into
    * the same slot. Plain driver data, safe across SparkSessions.
    */
  def trainedCentroids(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    graft.Memo(graft.ModelStore.ivf.stamp(dir))(trainCentroids(spark, dir))

  private def trainCentroids(spark: SparkSession, dir: String,
      means: DataFrame => DataFrame = cellMeans): Seq[(Long, Seq[Double])] = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    val k = ivfCellCount(emb.count())
    // seed = the k SMALLEST vec_ids (TakeOrdered top-k, no global
    // sort), not `vec_id < k`: the latter silently yields an empty
    // centroid set when ids aren't dense 0..N-1 — identical seeds on
    // dense ids, robust on sparse ones
    var centroids = emb.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"),
        transform(col("embedding"), x => x.cast("double")).as("c_emb"))
    // Collect the k = ⌈√N⌉ (capped) centroid rows to the driver
    // between iterations — the canonical k-means discipline (MLlib
    // does the same): the centroid set is O(k·dims), collecting it
    // truncates the growing Lloyd lineage so each pass replans from a
    // tiny LocalRelation instead of re-checkpointing, and the corpus
    // itself never leaves the executors.
    import spark.implicits._
    var out: Seq[(Long, Seq[Double])] = null
    for (_ <- 1 to lloydIters) {
      out = means(assignCells(emb, centroids))
        .as[(Long, Seq[Double])].collect().toSeq
      centroids = out.toDF("c_id", "c_emb")
    }
    out
  }

  /** [[trainCentroids]] on the production mean path ([[cellMeansProd]])
    * — same seeds, same assignment argmax, plain-avg updates. NOT
    * memoized: the bench row exists to keep the production training
    * cost visible every run.
    */
  private[graft] def trainCentroidsProd(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    trainCentroids(spark, dir, cellMeansProd)

  /** Bench row for the production training path: train with plain-avg
    * updates, then materialize the final cell assignment (the inverted
    * file an index build writes). No per-member collect_list anywhere
    * in the measured plans.
    */
  def ivfAssignProd(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    import spark.implicits._
    val centroids = trainCentroidsProd(spark, dir).toDF("c_id", "c_emb")
    assignCells(emb, centroids).select("vec_id", "cell")
  }

  /** Stateless streaming inference over a batch-trained model: assign
    * every embedding in a STREAM to its nearest trained centroid. The
    * centroid set rides the plan as literals (a broadcast-sized model
    * artifact), so the operator is a narrow per-row projection — no
    * state store, no shuffle, works under any output mode and
    * arbitrarily late data. Tie rule identical to the batch
    * assignment: highest rounded cosine, then smallest c_id.
    */
  def streamingCellScores(stream: DataFrame,
                          centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    val nrm = sqrt(DotProductD(col("embedding"), col("embedding")))
    val scored = centroids.map { case (cid, c) =>
      val cArr = array(c.map(lit): _*)
      val cNrm = math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))
      struct(
        round(DotProductD(col("embedding"), cArr) / (nrm * lit(cNrm)), 4).as("s"),
        lit(-cid).as("neg_cid"), lit(cid).as("cid"))
    }
    stream.withColumn("best", array_max(array(scored: _*)))
      .select(col("vec_id"), col("best.cid").as("cell"),
        col("best.s").as("c_cos"))
  }

  def ivfTopK(spark: SparkSession, dir: String,
              nprobe: Int = ivfNprobe): DataFrame = {
    // no checkpoint on emb: its lineage is one parquet scan + a narrow
    // norm projection — cheaper to recompute per assignment pass than
    // to materialize eagerly (the expensive thing to pin is the final
    // assignment, below)
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    import spark.implicits._
    val centroids = trainedCentroids(spark, dir).toDF("c_id", "c_emb")
    val assigned = assignCells(emb, centroids).localCheckpoint()
    ivfSearch(assigned, queryProbes(assigned, centroids, nprobe))
  }

  /** Final trained-cell assignment (vec_id, cell) — the inverted file
    * itself, exposed for index maintenance and the cell-balance spec.
    */
  def ivfAssignments(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    import spark.implicits._
    val centroids = trainedCentroids(spark, dir).toDF("c_id", "c_emb")
    assignCells(emb, centroids).select("vec_id", "cell")
  }

  /** Cell-restricted search: candidates equi-joined to the query's
    * probe cells, then exact rounded cosine + top-3 per query. The
    * probe side is broadcast-hinted: it holds at most
    * [[annQuerySampleSize]]·nprobe rows regardless of corpus size, so
    * the corpus side never shuffles — each candidate streams past the
    * constant-size probe table map-side.
    */
  private def ivfSearch(assigned: DataFrame, probes: DataFrame): DataFrame = {
    val scored = assigned.join(broadcast(probes),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(DotProductD(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 4).as("cos"))
    topPerQuery(scored, 3)
  }

  /** Cosine threshold above which two same-cell embeddings count as
    * semantic duplicates — the ~p99 tail of this corpus's pair-cosine
    * distribution (global max ≈ 0.48), so dedup prunes genuinely
    * similar items rather than cluster-mates.
    */
  val semanticDupTau = 0.3

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the trained k-means
    * (k = ⌈√N⌉ — the same memoized [[trainedCentroids]] artifact the
    * IVF index serves), then within each cell mark every vector that
    * has an earlier same-cell vector with cosine ≥ [[semanticDupTau]]
    * as a duplicate of the smallest such id. Keep-the-min-id is the
    * deterministic representative rule ([[Dedup]] uses the same one),
    * and the single-hop `dup_of` pointer is the published SemDeDup
    * greedy — no transitive closure pass.
    *
    * Scale shape: pairwise work happens ONLY within a cell (one
    * shuffle by cell id, never an all-pairs join); cells hold ~√N
    * vectors, so total pair work is O(N^1.5) spread across N cells —
    * the published SemDeDup cost profile — and the dup marking is a
    * map-side-combined min per victim. At 100 TB the cell count rises
    * as √N, keeping per-cell pair blocks constant-sized.
    */
  def semanticDedup(spark: SparkSession, dir: String,
                    tau: Double = semanticDupTau): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    import spark.implicits._
    val centroids = trainedCentroids(spark, dir).toDF("c_id", "c_emb")
    val assigned = assignCells(emb, centroids).localCheckpoint()
    val earlier = assigned.select(col("cell").as("a_cell"),
      col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("nrm").as("a_nrm"))
    val dups = assigned.join(earlier,
        col("a_cell") === col("cell") && col("a_id") < col("vec_id"))
      .filter(round(DotProductD(col("a_emb"), col("embedding")) /
        (col("a_nrm") * col("nrm")), 4) >= tau)
      .groupBy(col("vec_id"))
      .agg(min(col("a_id")).as("dup_of"))
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNotNull.as("is_semantic_dup"))
      .orderBy("vec_id")
  }

  /** The untrained stand-in [[ivfTopK]] replaced (first k vectors AS
    * the centroids, no Lloyd iterations, same k and nprobe) — kept for
    * the recall-improvement spec (ExtensionOpsSpec asserts trained
    * rank-1 recall ≥ this, isolating the value of training).
    */
  private[graft] def ivfTopKStandin(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    val k = ivfCellCount(emb.count())
    val centroids = emb.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"),
        transform(col("embedding"), x => x.cast("double")).as("c_emb"))
    val assigned = assignCells(emb, centroids).localCheckpoint()
    ivfSearch(assigned, queryProbes(assigned, centroids, ivfNprobe))
  }

  private[operators] def topPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("q_id", "rn", "vec_id", "cos")
      .orderBy("q_id", "rn")
  }

  /** Per-cell sample size for [[clusterSample]]. */
  val clusterSampleK = 5

  /** Cluster-balanced sampling (the diversity-preserving curation cut:
    * cluster the corpus, keep a fixed quota per cluster, so dense
    * regions are capped and sparse regions survive — the embedding
    * analog of [[Sampling.sourceCap]]'s per-source quota). Assignment
    * uses the CERTIFIED ordered-fold k-means ([[trainedCentroids]],
    * memoized per dataset); within each cell the quota picks by a
    * deterministic pseudo-random order (`md5(vec_id)` — engine-equal
    * on both sides, uncorrelated with insertion order or geometry), so
    * the sample is reproducible without any RNG state.
    *
    * Scale shape (100 TB): one broadcast-assign pass (k·dims model as
    * a broadcast), then a `row_number` window PARTITIONED BY CELL —
    * ~√N cells of ~√N members each, never an empty-partition global
    * window; the output is O(k · quota). Cell-size skew (a mega
    * cluster) bounds the worst window partition at that cluster's
    * size; beyond that, pre-filter with a per-cell count and reservoir
    * per cell.
    */
  def clusterSample(spark: SparkSession, dir: String,
      quota: Int = clusterSampleK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("nrm", norm(col("embedding")))
    val centroids = {
      import spark.implicits._
      trainedCentroids(spark, dir).toDF("c_id", "c_emb")
    }
    val asg = assignCells(emb, centroids).select("vec_id", "cell")
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    asg.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= quota)
      .select("cell", "sample_rank", "vec_id")
      .orderBy("cell", "sample_rank")
  }
  /** Neighbors-per-vector for [[mutualKnnPairs]]. */
  val mutualK = 5

  /** Mutual-kNN graph edges over the sign-bucketed candidate space —
    * the reciprocal-neighbor filter a pipeline applies before trusting
    * an ANN graph for clustering or graph-dedup: an edge (a, b)
    * survives only when b is in a's bucket-local top-[[mutualK]] AND a
    * is in b's — one-directional "hub" edges (a popular vector in many
    * top-k lists that reciprocates few) are exactly what mutuality
    * prunes. Output is canonical (vec_a < vec_b) with the shared
    * rounded cosine and BOTH ranks.
    *
    * Same determinism contract as [[bucketedTopK]]: round-4 cosine,
    * rank by (cos desc, vec_id) inside the per-vector window
    * (partitioned by the corpus-scale query key — parallel, never the
    * banned global window), candidates only within the 64-way sign
    * bucket (the documented IVF-style approximation; recall is the
    * bucketed family's certified trade).
    *
    * Shape (100 TB): one shuffle by bucket for the candidate join
    * (never all-pairs), one shuffle by query for the rank, and the
    * mutuality check is a self-equi-join of the tiny top-k frame on
    * the reversed key pair.
    */
  /** Every vector's bucket-local top-[[mutualK]] under the
    * [[bucketedTopK]] determinism contract — shared by the mutual-kNN
    * filter and the kNN label audit.
    */
  private[graft] def bucketTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .withColumn("bucket", bucket(col("embedding")))
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("bucket"), col("nrm"))
    val scored = emb.as("a")
      .join(emb.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("vec_id"),
        round(DotProductD(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm")), 4).as("cos"))
    topPerQuery(scored, mutualK)
  }

  def mutualKnnPairs(spark: SparkSession, dir: String): DataFrame = {
    val topk = bucketTopK(spark, dir)
      .localCheckpoint() // tiny top-k frame: both sides of the mutual join
    topk.as("x")
      .join(topk.as("y"),
        col("x.q_id") === col("y.vec_id") &&
          col("x.vec_id") === col("y.q_id") &&
          col("x.q_id") < col("x.vec_id"))
      .select(col("x.q_id").as("vec_a"), col("x.vec_id").as("vec_b"),
        col("x.cos").as("cos"),
        col("x.rn").as("rank_ab"), col("y.rn").as("rank_ba"))
      .orderBy("vec_a", "vec_b")
  }

  /** kNN label-consistency audit — "do the embeddings agree with the
    * labels?": every vector's bucket-local top-[[mutualK]] neighbors
    * vote by label; the prediction is the majority label (ties → the
    * smallest label, via the max-count probe + min read-off — never an
    * unordered arg_max), scored against the vector's own label. One
    * row per label: voters-present count, correct count, round-6
    * accuracy — the cheap proxy a pipeline checks before paying for a
    * trained classifier, and a drift alarm when an embedding refresh
    * silently shuffles the label geometry.
    *
    * Shape (100 TB): rides [[bucketTopK]] (bucket-bounded candidate
    * join, per-vector windows); the vote is two map-side-combined
    * aggregates and two broadcast-free co-partitioned joins on vec_id.
    */
  def knnLabelAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val votes = bucketTopK(spark, dir)
      .join(labels.select(col("vec_id"), col("label").as("v_label")),
        "vec_id")
      .groupBy(col("q_id"), col("v_label"))
      .agg(count(lit(1)).as("n_votes"))
      .localCheckpoint() // feeds the max probe and the argmax read-off
    val top = votes.groupBy("q_id").agg(max(col("n_votes")).as("n_top"))
    val pred = votes.join(top, "q_id")
      .filter(col("n_votes") === col("n_top"))
      .groupBy("q_id").agg(min(col("v_label")).as("pred_label"))
    pred
      .join(labels.select(col("vec_id").as("q_id"), col("label")), "q_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("pred_label") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_scored"), col("n_correct"),
        round(col("n_correct").cast("double") /
          col("n_scored").cast("double"), 6).as("accuracy"))
      .orderBy("label")
  }
}
