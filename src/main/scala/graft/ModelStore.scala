package graft

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Persistent trained-artifact store: every model the engine trains
  * (IVF centroids, PQ codebooks, OPQ rotation, BPE merge table +
  * segmentation, perceptron weights, DSIR model, anomaly baseline,
  * Bloom bitmap) and every mergeable sketch state it persists (HDR,
  * HLL, KMV, CMS cells, the line census) can be saved to a parquet
  * directory stamped with its [[DataVersion]] and reloaded into the
  * exact serving slot it came from — the production contract the
  * session-local memo caches only approximate (a real pipeline trains
  * once, persists, and serves every later job from reloaded state;
  * the reference's analog is its persisted connector configs,
  * `/root/reference/connectors/debezium_configuration.json:1-53`).
  *
  * Layout (all Spark-native parquet, so artifacts live on the same
  * lake/filesystem as the data at any scale):
  *
  *   <path>/meta.parquet     one row: family, data_version, params
  *   <path>/payload.parquet  the model rows, with an explicit `ord`
  *                           column where the artifact is an ordered
  *                           Seq — reload returns EXACTLY the saved
  *                           sequence, element order included
  *
  * Exactness: parquet stores IEEE doubles and int64s losslessly, so a
  * reloaded artifact is structurally EQUAL to the saved one (the
  * round-trip specs assert `==`, not approximate closeness) and
  * serving from it is bit-equal to serving from the in-memory
  * original.
  *
  * Staleness: [[load]] re-fingerprints the CURRENT dataset directory
  * and refuses an artifact whose stamp disagrees — the same
  * regenerated-data contract the memo caches get from
  * [[DataVersion.key]], now enforced across process restarts. Callers
  * that want to serve anyway (e.g. a pinned model over a moving
  * corpus) can pass `requireFresh = false` and get the stamp back to
  * decide themselves.
  *
  * Families: each artifact kind is one [[Family]] value below — its
  * family string, stamp table and tag, params and payload encoding,
  * declared once, the way the reference declares its connectors as
  * configuration. One generic [[save]], [[load]] and [[install]] serve
  * all 14, over the one payload format and commit protocol above.
  */
object ModelStore {

  /** What a stored artifact says about itself. `dataVersion` is the
    * [[DataVersion.key]] of the training input at save time; `params`
    * is the family's free-form hyperparameter string (k, merge
    * budget, …) so a load can refuse a model trained at different
    * settings; `rows` is the payload row count at save time, re-counted
    * and verified at [[load]] so a torn payload can never serve even if
    * a commit marker somehow survives next to it.
    */
  final case class Meta(family: String, dataVersion: String, params: String,
                        rows: Long = -1L)

  def save(spark: SparkSession, path: String, meta: Meta,
           payload: DataFrame): Unit = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    // Staged write + rename commit. The whole new artifact (payload +
    // meta) lands under `_staging/` first, so a save that dies anywhere
    // during the writes leaves the PRIOR artifact untouched and
    // loadable — a failed retrain must never destroy the good model.
    // The commit phase is then three metadata-only filesystem moves:
    //   1. delete the live meta (the commit marker — from this instant
    //      the store reads as "no committed artifact", a clean refusal,
    //      never a torn old/new mix),
    //   2. swap the payload directory in by rename,
    //   3. rename the new meta into place (re-arming the marker).
    // All moves go through the Hadoop FileSystem the parquet writes
    // use, so the contract holds on every store the writes reach
    // (file://, hdfs://, s3a://) — java.io.File would silently no-op
    // off the local filesystem. Writer concurrency is out of scope:
    // the store contract is single-writer, many-reader (a reader that
    // lands inside the ~ms commit window gets the clean "no committed
    // artifact" refusal from [[load]] and retries).
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root, "_staging")
    fs.delete(staging, true) // debris from a save that died mid-stage
    val nRows = payload.count()
    payload.write.mode("overwrite")
      .parquet(s"$path/_staging/payload.parquet")
    Seq((meta.family, meta.dataVersion, meta.params, nRows))
      .toDF("family", "data_version", "params", "n_rows")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_staging/meta.parquet")
    fs.delete(new Path(root, "meta.parquet"), true)
    fs.delete(new Path(root, "payload.parquet"), true)
    require(fs.rename(new Path(staging, "payload.parquet"),
      new Path(root, "payload.parquet")),
      s"commit failed: could not move staged payload into $path")
    require(fs.rename(new Path(staging, "meta.parquet"),
      new Path(root, "meta.parquet")),
      s"commit failed: could not move staged meta into $path")
    fs.delete(staging, true)
  }

  /** Load an artifact's payload after validating the stamp: the
    * family must match, and (with `requireFresh`) the stored
    * data-version stamp must equal `expectedVersion` — pass the
    * freshly recomputed [[DataVersion.key]] of the dataset the model
    * will serve, so a stale or foreign artifact fails LOUDLY at load,
    * never silently at query time.
    */
  def load(spark: SparkSession, path: String, family: String,
           expectedVersion: String, expectedParams: Option[String],
           requireFresh: Boolean): (Meta, DataFrame) = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta.parquet")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // absent marker = never saved, a save that died before commit, or a
    // writer inside the commit window — one clean refusal for all three
    require(fs.exists(metaPath),
      s"no committed artifact at $path (never saved, a save died before " +
        "its commit marker, or a writer is mid-commit) — retrain, or " +
        "retry if a writer is known to be live")
    val m = spark.read.parquet(s"$path/meta.parquet").head()
    val meta = Meta(m.getAs[String]("family"),
      m.getAs[String]("data_version"), m.getAs[String]("params"),
      m.getAs[Long]("n_rows"))
    require(meta.family == family,
      s"artifact at $path is family '${meta.family}', expected '$family'")
    expectedParams.foreach(p => require(meta.params == p,
      s"artifact at $path trained with params '${meta.params}', " +
        s"expected '$p'"))
    if (requireFresh)
      require(meta.dataVersion == expectedVersion,
        s"STALE artifact at $path: stamped '${meta.dataVersion}', the " +
          s"dataset now fingerprints '$expectedVersion' — retrain or pass " +
          "requireFresh = false to serve a pinned model deliberately")
    val payload = spark.read.parquet(s"$path/payload.parquet")
    val got = payload.count()
    require(got == meta.rows,
      s"TORN artifact at $path: meta records ${meta.rows} payload rows, " +
        s"the payload directory holds $got — refuse and retrain")
    (meta, payload)
  }

  /** One artifact family, declared once. `name` is the meta row's
    * family string; the stamp is [[DataVersion.key]] over the source
    * `table` under `tag`; `params` is the hyperparameter string a load
    * requires; `encode` turns a value into payload rows and `decode`
    * turns the stored payload back into the value. The Bloom bitmap
    * and the DSIR model size their params from the value itself (the
    * bit count, the bucket count): they state them through `sized`
    * instead, and a load does not check them. For the families that
    * serve from a [[Memo]] slot (IVF, PQ, OPQ, perceptron) the stamp
    * is also the slot's key, so [[install]] and the operator's lookup
    * cannot drift apart.
    */
  final case class Family[V](name: String, table: String, tag: String,
                             params: String,
                             encode: (SparkSession, V) => DataFrame,
                             decode: (Meta, DataFrame) => V,
                             sized: Option[V => String] = None) {
    def stamp(dir: String): String = DataVersion.key(dir, table, tag)
    def paramsOf(value: V): String = sized.fold(params)(_(value))
  }

  /** Save `value` as a `family` artifact stamped against `dir`. */
  def save[V](spark: SparkSession, path: String, family: Family[V],
              dir: String, value: V): Unit =
    save(spark, path, Meta(family.name, family.stamp(dir),
      family.paramsOf(value)), family.encode(spark, value))

  /** Load a `family` artifact, refused unless it is fresh for `dir`
    * (see the staleness note above) and carries the family's params.
    */
  def load[V](spark: SparkSession, path: String, family: Family[V],
              dir: String, requireFresh: Boolean = true): V = {
    val (meta, payload) = load(spark, path, family.name, family.stamp(dir),
      if (family.sized.isEmpty) Some(family.params) else None, requireFresh)
    family.decode(meta, payload)
  }

  /** Serve a reloaded `value` from the family's memo slot, so every
    * consumer of the operator's trained model serves the store-loaded
    * artifact.
    */
  def install[V <: AnyRef](family: Family[V], dir: String, value: V): Unit =
    Memo.install(family.stamp(dir), value)

  /** A keyed (unordered) table family: saved as its columns, served
    * as the stored frame; consumers join on the key.
    */
  private def frame(name: String, table: String, tag: String, params: String,
                    cols: String*): Family[DataFrame] =
    Family(name, table, tag, params, (_, df) => df.select(cols.map(col): _*),
      (_, df) => df)

  /** Payload rows in `by` order, as the family's tuples. */
  private def sorted[T <: Product : TypeTag](df: DataFrame, by: String,
                                             cols: String*): Seq[T] =
    df.orderBy(by).select(cols.map(col): _*).as[T](Encoders.product[T])
      .collect().toSeq

  /** A dense Long vector as (ord, `c`) rows. */
  private def longs(c: String)(spark: SparkSession, v: Array[Long]): DataFrame =
    spark.createDataFrame(v.toSeq.zipWithIndex.map(_.swap)).toDF("ord", c)

  private def unLongs(c: String)(df: DataFrame): Array[Long] =
    df.orderBy("ord").select(c).as[Long](Encoders.scalaLong).collect()

  /** IVF centroids ([[operators.Similarity.trainedCentroids]]). */
  val ivf: Family[Seq[(Long, Seq[Double])]] =
    Family("ivf", "embeddings", "ivf", "",
      (spark, v) => spark.createDataFrame(v.zipWithIndex.map {
        case ((cid, c), i) => (i, cid, c) }).toDF("ord", "c_id", "c_emb"),
      (_, df) => sorted[(Long, Seq[Double])](df, "ord", "c_id", "c_emb"))

  /** PQ codebook at width `k` ([[operators.Pq.trainedCodebook]]). */
  def pq(k: Int): Family[Seq[(Int, Long, Seq[Double])]] =
    Family("pq", "embeddings", s"pq$k", s"k=$k",
      (spark, v) => spark.createDataFrame(v.zipWithIndex.map {
        case ((m, cid, c), i) => (i, m, cid, c) }).toDF("ord", "m", "c_id", "c_emb"),
      (_, df) => sorted[(Int, Long, Seq[Double])](df, "ord", "m", "c_id", "c_emb"))

  /** BPE merge table, ordered by `rank`. Installed with its
    * segmentation through [[operators.BpeTrainer.installModel]], whose
    * slots are session-scoped.
    */
  def bpeMerges(merges: Int, gate: Long
               ): Family[Seq[(Long, String, String, String, Long)]] = {
    val cols = Seq("rank", "left", "right", "merged", "n")
    Family("bpe_merges", "documents", "bpe", s"merges=$merges#gate=$gate",
      (spark, v) => spark.createDataFrame(v).toDF(cols: _*),
      (_, df) => sorted[(Long, String, String, String, Long)](df, "rank", cols: _*))
  }

  /** BPE segmentation: the word-type table (w → subword array). */
  def bpeSegmentation(merges: Int, gate: Long): Family[DataFrame] =
    frame("bpe_seg", "documents", "bpe", s"merges=$merges#gate=$gate",
      "w", "sub")

  /** Perceptron weights ([[operators.Perceptron.trainedWeights]]). */
  val perceptron: Family[Array[Long]] =
    Family("perceptron", "documents", "perceptron", "", longs("w"),
      (_, df) => unLongs("w")(df))

  /** The hashed-n-gram DSIR domain model that
    * [[operators.Dsir.streamingScores]] serves.
    */
  val dsir: Family[Array[Long]] =
    Family("dsir", "documents", "dsir", "", longs("w"),
      (_, df) => unLongs("w")(df), Some(w => s"buckets=${w.length}"))

  /** The OPQ rotation ([[operators.Opq.Rotation]]) as one exact-integer
    * row per (round k × observed slot): basis weight and eigenvalue in
    * MICROS plus the per-slot mean and the regime flag, so the
    * round-trip is bit-exact by construction.
    */
  val opq: Family[operators.Opq.Rotation] = {
    val cols = Seq("ord", "k", "out_dim", "in_dim", "mu", "w", "lam", "exact")
    Family("opq", "embeddings", "opqrot", "",
      (spark, rot) => spark.createDataFrame(for {
        k <- 0 until operators.Opq.rotationDims
        s <- rot.dims.indices
      } yield (k.toLong * rot.dims.length + s, k, rot.outDimOfRound(k),
        rot.dims(s), rot.mu(s), rot.basis(k)(s), rot.lams(k), rot.exact))
        .toDF(cols: _*),
      (_, df) => {
        // ord = k × |dims| + slot: each round's rows in slot order
        val rows = sorted[(Int, Int, Int, Double, Long, Long, Boolean)](
          df, "ord", cols.tail: _*)
        val round = rows.groupBy(_._1).withDefaultValue(Seq.empty)
        val ks = (0 until operators.Opq.rotationDims).toArray
        operators.Opq.Rotation(round(0).map(_._3).toArray,
          round(0).map(_._4).toArray, ks.map(round(_).map(_._5).toArray),
          ks.map(round(_).headOption.fold(0L)(_._6)),
          ks.map(round(_).headOption.fold(0)(_._2)),
          rows.headOption.forall(_._7))
      })
  }

  /** The frozen per-event-type hourly baseline that
    * [[operators.Behavior.streamingAnomalies]] scores against.
    */
  val anomalyBaseline: Family[DataFrame] =
    frame("anomaly_baseline", "events", "anomaly", "",
      "event_type", "b_cnt", "b_sum", "b_ss")

  // The sketch families below hold mergeable SKETCH state rather than
  // model weights: the nightly job saves the base slice's state, the
  // next increment reloads it and merges the delta's (keyed sum for
  // HDR/CMS cells, MAX for HLL registers, re-min for KMV, sum/min for
  // the line census), bit-equal to a full recompute. The stamp pins
  // the source-table VERSION the `slice` was sketched from. In a
  // production lake base and delta are separate partition directories
  // that fingerprint independently; a deployment whose table is one
  // growing directory keeps its own slice watermark and loads the base
  // with `requireFresh = false`, so the stamp records provenance
  // rather than gating it.

  /** HDR quantile cells ([[operators.Sketches.hdrQuantilesServed]]). */
  def hdrCells(slice: String): Family[DataFrame] =
    frame("hdr_cells", "orders", s"hdr#$slice",
      s"subBits=${operators.Sketches.hdrSubBits}", "e", "sub", "key", "n")

  /** Per-day HLL registers ([[operators.Sketches.hllDailyServed]]). */
  def hllDailyRegs(slice: String): Family[DataFrame] =
    frame("hll_daily_regs", "events", s"hll#$slice",
      s"m=${operators.Sketches.hllRegisters}", "day", "reg", "max_rho")

  /** The KMV theta sketch ([[operators.Sketches.thetaKmvOf]]). */
  def thetaSketch(slice: String): Family[DataFrame] =
    frame("theta_kmv", "orders", s"theta#$slice",
      s"k=${operators.Sketches.thetaK}", "h")

  /** The corpus line census
    * ([[operators.TextAnalysis.lineDedupIncremental]]).
    */
  def lineCensus(slice: String): Family[DataFrame] =
    frame("line_census", "documents", s"lines#$slice",
      s"width=${operators.TextAnalysis.lineWords}", "line", "c", "fk")

  /** Count-min cells ([[operators.Sketches.cmsTokenCountsServed]]). */
  def cmsCells(slice: String): Family[DataFrame] =
    frame("cms_cells", "documents", s"cms#$slice",
      s"d=${operators.Sketches.cmsDepth}#w=${operators.Sketches.cmsWidth}",
      "row_j", "bucket", "cnt")

  /** The Bloom bitmap ([[operators.Dedup.bloomArtifact]]): bit count
    * `m` in the params, the words as (ord, word) rows.
    */
  val bloom: Family[(Long, Array[Long])] =
    Family("bloom", "documents", "bloom", "",
      (spark, v) => longs("word")(spark, v._2),
      (meta, df) => (meta.params.stripPrefix("m=").toLong,
        unLongs("word")(df)),
      Some(v => s"m=${v._1}"))
}
