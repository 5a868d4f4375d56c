package graft

import graft.operators.{BpeTrainer, Dedup, Perceptron, Pq, Similarity}
import graft.streaming.StreamingDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persistent-artifact contract (round-12 verdict item 1): every
  * trained model family round-trips through [[ModelStore]] — save →
  * stamp-validated reload → install into the serving slot — and the
  * RELOADED artifact serves bit-equal to the memoized (just-trained)
  * path. Two layers per family:
  *
  *   1. structural: the reloaded artifact `==` the trained one,
  *      element order included (parquet carries IEEE doubles and
  *      int64s losslessly; the `ord` column freezes Seq order);
  *   2. serving: the flagship consumer query re-collected after
  *      installing the reloaded model equals its pre-install output
  *      row for row.
  *
  * Plus the staleness gate: a load against a dataset whose fingerprint
  * moved (or with different hyperparameters) must THROW, never serve.
  */
class ModelStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"modelstore-$tag").toString

  private def collected(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("every family keeps its stored identity: family string, stamp, " +
    "params and payload columns") {
    // the identity every stored artifact carries, written out as
    // literals: a change to any of these orphans the artifacts already
    // on disk, so it must be deliberate
    import graft.operators.{Opq, Sketches, TextAnalysis}
    def pin[V](f: ModelStore.Family[V], v: V, family: String, table: String,
               tag: String, params: String, payload: (String, String)*): Unit = {
      assert(f.name === family)
      assert(f.stamp(dir) === DataVersion.key(dir, table, tag), family)
      assert(f.paramsOf(v) === params, family)
      assert(f.encode(spark, v).dtypes.toSeq === payload, family)
    }
    def frame(cols: String*): DataFrame = // plus a column the save drops
      spark.range(1).select((cols :+ "extra").map(c => lit(0L).as(c)): _*)
    def longs(cols: String*) = cols.map(_ -> "LongType")
    val arr = "ArrayType(DoubleType,false)"
    pin(ModelStore.ivf, Seq((7L, Seq(1.0, 2.0))), "ivf", "embeddings", "ivf",
      "", "ord" -> "IntegerType", "c_id" -> "LongType", "c_emb" -> arr)
    pin(ModelStore.pq(32), Seq((1, 7L, Seq(1.0))), "pq", "embeddings",
      "pq32", "k=32", "ord" -> "IntegerType", "m" -> "IntegerType",
      "c_id" -> "LongType", "c_emb" -> arr)
    pin(ModelStore.bpeMerges(100, 5000L), Seq((0L, "a", "b", "ab", 3L)),
      "bpe_merges", "documents", "bpe", "merges=100#gate=5000",
      "rank" -> "LongType", "left" -> "StringType", "right" -> "StringType",
      "merged" -> "StringType", "n" -> "LongType")
    pin(ModelStore.bpeSegmentation(100, 5000L), frame("w", "sub"), "bpe_seg",
      "documents", "bpe", "merges=100#gate=5000", longs("w", "sub"): _*)
    pin(ModelStore.perceptron, Array(1L, -2L), "perceptron", "documents",
      "perceptron", "", "ord" -> "IntegerType", "w" -> "LongType")
    pin(ModelStore.dsir, Array(1L, -2L, 3L), "dsir", "documents", "dsir",
      "buckets=3", "ord" -> "IntegerType", "w" -> "LongType")
    val d = Opq.rotationDims
    pin(ModelStore.opq, Opq.Rotation(Array(0, 3), Array(0.5, 0.25),
        Array.fill(d)(Array(1L, 0L)), Array.fill(d)(2L),
        Array.tabulate(d)(identity), true), "opq", "embeddings", "opqrot", "",
      "ord" -> "LongType", "k" -> "IntegerType", "out_dim" -> "IntegerType",
      "in_dim" -> "IntegerType", "mu" -> "DoubleType", "w" -> "LongType",
      "lam" -> "LongType", "exact" -> "BooleanType")
    pin(ModelStore.anomalyBaseline,
      frame("event_type", "b_cnt", "b_sum", "b_ss"), "anomaly_baseline",
      "events", "anomaly", "", longs("event_type", "b_cnt", "b_sum", "b_ss"): _*)
    pin(ModelStore.hdrCells("base"), frame("e", "sub", "key", "n"),
      "hdr_cells", "orders", "hdr#base", s"subBits=${Sketches.hdrSubBits}",
      longs("e", "sub", "key", "n"): _*)
    pin(ModelStore.hllDailyRegs("base"), frame("day", "reg", "max_rho"),
      "hll_daily_regs", "events", "hll#base", s"m=${Sketches.hllRegisters}",
      longs("day", "reg", "max_rho"): _*)
    pin(ModelStore.thetaSketch("a"), frame("h"), "theta_kmv", "orders",
      "theta#a", s"k=${Sketches.thetaK}", longs("h"): _*)
    pin(ModelStore.lineCensus("base"), frame("line", "c", "fk"),
      "line_census", "documents", "lines#base",
      s"width=${TextAnalysis.lineWords}", longs("line", "c", "fk"): _*)
    pin(ModelStore.cmsCells("base"), frame("row_j", "bucket", "cnt"),
      "cms_cells", "documents", "cms#base",
      s"d=${Sketches.cmsDepth}#w=${Sketches.cmsWidth}",
      longs("row_j", "bucket", "cnt"): _*)
    pin(ModelStore.bloom, (130L, Array(5L, 0L, 1L)), "bloom", "documents",
      "bloom", "m=130", "ord" -> "IntegerType", "word" -> "LongType")
  }

  test("IVF centroids: save -> stamped reload -> bit-equal ann_ivf serving") {
    val trained = Similarity.trainedCentroids(spark, dir)
    val baseline = collected(SparkEntry.queries("ann_ivf")(spark, dir))
    val path = tmp("ivf")
    ModelStore.save(spark, path, ModelStore.ivf, dir, trained)
    val loaded = ModelStore.load(spark, path, ModelStore.ivf, dir)
    assert(loaded === trained, "parquet round-trip must be exact")
    ModelStore.install(ModelStore.ivf, dir, loaded)
    // the serving slot now holds the RELOADED object, not the trained one
    assert(Similarity.trainedCentroids(spark, dir) eq
      loaded.asInstanceOf[AnyRef])
    assert(collected(SparkEntry.queries("ann_ivf")(spark, dir)) === baseline)
  }

  test("PQ K=256 codebook: save -> reload -> bit-equal recall serving") {
    val k = Pq.productionCodebookSize
    val trained = Pq.trainedCodebook(spark, dir, k)
    val baseline =
      collected(SparkEntry.queries("ann_pq_recall_k256")(spark, dir))
    val path = tmp("pq")
    ModelStore.save(spark, path, ModelStore.pq(k), dir, trained)
    val loaded = ModelStore.load(spark, path, ModelStore.pq(k), dir)
    assert(loaded === trained, "parquet round-trip must be exact")
    ModelStore.install(ModelStore.pq(k), dir, loaded)
    assert(Pq.trainedCodebook(spark, dir, k) eq loaded.asInstanceOf[AnyRef])
    assert(collected(SparkEntry.queries("ann_pq_recall_k256")(spark, dir))
      === baseline)
    // wrong hyperparameter: a K=256 artifact must not serve a K=32 ask
    intercept[IllegalArgumentException] {
      ModelStore.load(spark, path, ModelStore.pq(Pq.codebookSize), dir)
    }
  }

  test("OPQ rotation: save -> reload -> bit-equal rotation rows") {
    val trained = graft.operators.Opq.trainedRotation(spark, dir)
    val baseline = collected(SparkEntry.queries("opq_rotation")(spark, dir))
    val path = tmp("opq")
    ModelStore.save(spark, path, ModelStore.opq, dir, trained)
    val loaded = ModelStore.load(spark, path, ModelStore.opq, dir)
    // micros are Longs — the round-trip is exact by construction
    assert(loaded.dims === trained.dims)
    assert(loaded.mu === trained.mu)
    assert(loaded.lams === trained.lams)
    assert(loaded.outDimOfRound === trained.outDimOfRound)
    assert(loaded.exact === trained.exact)
    assert((0 until graft.operators.Opq.rotationDims)
      .forall(k => loaded.basis(k).sameElements(trained.basis(k))))
    ModelStore.install(ModelStore.opq, dir, loaded)
    assert(graft.operators.Opq.trainedRotation(spark, dir) eq
      loaded.asInstanceOf[AnyRef])
    assert(collected(SparkEntry.queries("opq_rotation")(spark, dir))
      === baseline)
  }

  test("BPE merges + segmentation: save -> reload -> bit-equal encode") {
    import spark.implicits._
    val merges = BpeTrainer.defaultMerges
    val gate = BpeTrainer.driverTypeLimit
    val trainRows = BpeTrainer.train(spark, dir)
      .as[(Long, String, String, String, Long)].collect().toSeq
    val baseline = collected(SparkEntry.queries("text_bpe_encode")(spark, dir))
    val seg = BpeTrainer.segmentation(spark, dir)
    val path = tmp("bpe")
    ModelStore.save(spark, path + "/m",
      ModelStore.bpeMerges(merges, gate), dir, trainRows)
    val loadedMerges =
      ModelStore.load(spark, path + "/m", ModelStore.bpeMerges(merges, gate), dir)
    assert(loadedMerges === trainRows, "merge table round-trip must be exact")
    ModelStore.save(spark, path + "/s",
      ModelStore.bpeSegmentation(merges, gate), dir, seg)
    val loadedSeg =
      ModelStore.load(spark, path + "/s",
        ModelStore.bpeSegmentation(merges, gate), dir)
    assert(collected(loadedSeg.orderBy("w")) === collected(seg.orderBy("w")),
      "segmentation round-trip must be exact")
    BpeTrainer.installModel(spark, dir, merges, gate, loadedMerges, loadedSeg)
    assert(collected(SparkEntry.queries("text_bpe_encode")(spark, dir))
      === baseline)
    // the merge view also serves from the installed rows
    assert(BpeTrainer.train(spark, dir)
      .as[(Long, String, String, String, Long)].collect().toSeq === trainRows)
  }

  test("perceptron weights: save -> reload -> bit-equal classifier") {
    val trained = Perceptron.trainedWeights(spark, dir)
    val baseline =
      collected(SparkEntry.queries("text_quality_classifier")(spark, dir))
    val path = tmp("perceptron")
    ModelStore.save(spark, path, ModelStore.perceptron, dir, trained)
    val loaded = ModelStore.load(spark, path, ModelStore.perceptron, dir)
    assert(loaded.toSeq === trained.toSeq, "weight round-trip must be exact")
    ModelStore.install(ModelStore.perceptron, dir, loaded)
    assert(Perceptron.trainedWeights(spark, dir) eq
      loaded.asInstanceOf[AnyRef])
    assert(collected(SparkEntry.queries("text_quality_classifier")(spark, dir))
      === baseline)
  }

  test("Bloom bitmap: save -> reload -> bit-equal streaming-gate probe") {
    val (m, words) = Dedup.bloomArtifact(spark, dir)
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val baseline = collected(
      StreamingDedup.maybeDupStream(docs, m, words).orderBy("doc_id"))
    val path = tmp("bloom")
    ModelStore.save(spark, path, ModelStore.bloom, dir, (m, words))
    val (m2, words2) = ModelStore.load(spark, path, ModelStore.bloom, dir)
    assert(m2 === m)
    assert(words2.toSeq === words.toSeq, "bitmap round-trip must be exact")
    assert(collected(
      StreamingDedup.maybeDupStream(docs, m2, words2).orderBy("doc_id"))
      === baseline)
    // every CORPUS-SIDE document (doc_id % 10 != 0 — the split the
    // artifact is built from; % 10 == 0 is the probe batch) must probe
    // true: the no-false-negative contract survives persistence
    assert(StreamingDedup.maybeDupStream(docs, m2, words2)
      .filter(col("doc_id") % 10 =!= 0).filter(!col("maybe_dup"))
      .count() === 0L)
  }

  test("Bloom reload serves a LIVE stream identically to the trained artifact") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (m, words) = operators.Dedup.bloomArtifact(spark, dir)
    val path = tmp("bloom-live")
    ModelStore.save(spark, path, ModelStore.bloom, dir, (m, words))
    val (mL, wordsL) = ModelStore.load(spark, path, ModelStore.bloom, dir)
    val probeDocs = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    def gateOn(mm: Long, ww: Array[Long], name: String): Map[Long, Boolean] = {
      val in = MemoryStream[(Long, String)]
      val q = StreamingDedup.maybeDupStream(
          in.toDF().toDF("doc_id", "text"), mm, ww)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        in.addData(probeDocs: _*)
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      } finally q.stop()
    }
    assert(gateOn(mL, wordsL, "gate_loaded") === gateOn(m, words, "gate_mem"))
  }

  test("DSIR domain model: save -> reload -> bit-equal streaming scores") {
    val trained = operators.Dsir.trainedWeights(spark, dir)
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val baseline = collected(
      operators.Dsir.streamingScores(docs, trained).orderBy("doc_id"))
    val path = tmp("dsir")
    ModelStore.save(spark, path, ModelStore.dsir, dir, trained)
    val loaded = ModelStore.load(spark, path, ModelStore.dsir, dir)
    assert(loaded.toSeq === trained.toSeq, "weight round-trip must be exact")
    assert(collected(
      operators.Dsir.streamingScores(docs, loaded).orderBy("doc_id"))
      === baseline)
  }

  test("anomaly baseline: save -> reload -> bit-equal monitor scores") {
    val trained = operators.Behavior.anomalyBaseline(spark, dir)
      .localCheckpoint(true)
    val events = Tables(spark, dir, "events")
    def scores(b: org.apache.spark.sql.DataFrame) = collected(
      operators.Behavior.streamingAnomalies(events, b)
        .orderBy("event_type", "hour_idx"))
    val baseline = scores(trained)
    val path = tmp("anomaly")
    ModelStore.save(spark, path, ModelStore.anomalyBaseline, dir, trained)
    val loaded = ModelStore.load(spark, path, ModelStore.anomalyBaseline, dir)
    assert(collected(loaded.orderBy("event_type")) ===
      collected(trained.orderBy("event_type")),
      "baseline round-trip must be exact")
    assert(scores(loaded) === baseline)
  }

  test("HDR cells: persisted base + fresh delta serves == full recompute") {
    import graft.operators.Sketches
    val path = tmp("hdr")
    // the nightly save: base-slice cells only
    ModelStore.save(spark, path, ModelStore.hdrCells("base"), dir,
      Sketches.hdrCellsOf(spark, dir, Sketches.hdrBaseSide))
    // the increment: reload base (stamp-validated), sketch the delta,
    // merge, read off — must equal the whole-corpus row bit for bit
    assert(collected(Sketches.hdrQuantilesServed(spark, dir, path)) ===
      collected(Sketches.hdrQuantiles(spark, dir)))
    // wrong slice name refuses (it is part of the stamp)
    intercept[IllegalArgumentException] {
      ModelStore.load(spark, path, ModelStore.hdrCells("delta"), dir)
    }
  }

  test("HLL daily regs: persisted base + fresh delta serves == full recompute") {
    import graft.operators.Sketches
    val path = tmp("hll")
    ModelStore.save(spark, path, ModelStore.hllDailyRegs("base"), dir,
      Sketches.hllDailyRegsOf(spark, dir, Sketches.hllBaseSide))
    // reload base (stamp-validated), sketch the delta, MAX-merge (the
    // HLL union), read off — must equal the whole-corpus row bit for bit
    assert(collected(Sketches.hllDailyServed(spark, dir, path)) ===
      collected(Sketches.hllDailyUsers(spark, dir)))
    intercept[IllegalArgumentException] {
      ModelStore.load(spark, path, ModelStore.hllDailyRegs("delta"), dir)
    }
  }

  test("CMS cells: persisted base + fresh delta serves == full recompute") {
    import graft.operators.Sketches
    val path = tmp("cms")
    ModelStore.save(spark, path, ModelStore.cmsCells("base"), dir,
      Sketches.cmsCellsOf(spark, dir, Sketches.cmsBaseSide))
    // reload base (stamp-validated), sketch the delta tokens, keyed
    // sum (cell linearity), read off — bit-equal to the full recompute
    assert(collected(Sketches.cmsTokenCountsServed(spark, dir, path)) ===
      collected(Sketches.cmsTokenCounts(spark, dir)))
    intercept[IllegalArgumentException] {
      ModelStore.load(spark, path, ModelStore.cmsCells("delta"), dir)
    }
  }

  test("overwrite crash contract: old meta never vouches for a new payload") {
    // save() stages the whole new artifact, then commits by deleting
    // the old marker and renaming the staged files in: a retrain whose
    // dataset fingerprint hasn't moved can therefore never leave a
    // valid old meta next to a torn new payload. Simulate the
    // inside-the-commit crash window: after a completed save, delete
    // the meta (the commit's first move) — load must refuse on the
    // missing marker regardless of what the payload dir holds.
    val path = tmp("overwrite")
    ModelStore.save(spark, path, ModelStore.perceptron, dir, Array(1L, 2L, 3L, 4L, 5L, 6L))
    // second save onto the same path succeeds end-to-end (marker is
    // re-created after the new payload swaps in)
    ModelStore.save(spark, path, ModelStore.perceptron, dir, Array(9L, 8L, 7L, 6L, 5L, 4L))
    assert(ModelStore.load(spark, path, ModelStore.perceptron, dir).toSeq ===
      Seq(9L, 8L, 7L, 6L, 5L, 4L))
    // now the torn overwrite: marker deleted (commit's first move),
    // then the process dies mid-swap — whatever the payload dir holds,
    // load refuses because there is no commit marker
    def rmdir(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmdir))
      f.delete()
    }
    rmdir(new java.io.File(path, "meta.parquet"))
    intercept[Exception] {
      ModelStore.load(spark, path, ModelStore.perceptron, dir)
    }
  }

  test("durability: a re-save whose payload write throws keeps the prior " +
    "artifact loadable") {
    // the staged-write half of the commit protocol: every byte of the
    // new artifact lands in _staging/ before the commit touches the
    // live files, so a retrain that dies mid-write (OOM, quota, bad
    // input — here: a payload whose evaluation throws) leaves the
    // previously committed artifact fully intact
    import spark.implicits._
    val path = tmp("durable")
    ModelStore.save(spark, path, ModelStore.perceptron, dir, Array(1L, 2L, 3L, 4L, 5L, 6L))
    val boom = udf((_: Long) => {
      throw new RuntimeException("simulated mid-write failure"); 0L
    })
    val poisoned = Seq(1L).toDF("ord")
      .select(col("ord"), boom(col("ord")).as("w"))
    intercept[Exception] {
      ModelStore.save(spark, path,
        ModelStore.Meta("perceptron",
          DataVersion.key(dir, "documents", "perceptron"), ""), poisoned)
    }
    // the failed save destroyed nothing: the v1 artifact still serves
    assert(ModelStore.load(spark, path, ModelStore.perceptron, dir).toSeq ===
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("concurrent reader mid-commit gets the clean refusal, and a " +
    "dangling staging dir never breaks the next save") {
    // single-writer many-reader contract: a reader that lands inside
    // the commit window (marker deleted, staged files not yet renamed
    // in) must see the clean 'no committed artifact' refusal — a
    // require(), not a raw parquet path-not-found — and a staging dir
    // left by a writer that died mid-stage is swept by the next save
    val path = tmp("midcommit")
    ModelStore.save(spark, path, ModelStore.perceptron, dir, Array(1L, 2L, 3L, 4L, 5L, 6L))
    // reproduce the mid-commit state: marker gone, staging populated
    def rmdir(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmdir))
      f.delete()
    }
    val staging = new java.io.File(path, "_staging")
    staging.mkdirs()
    new java.io.File(staging, "payload.parquet").mkdirs()
    rmdir(new java.io.File(path, "meta.parquet"))
    val e = intercept[IllegalArgumentException] {
      ModelStore.load(spark, path, ModelStore.perceptron, dir)
    }
    assert(e.getMessage.contains("no committed artifact"),
      s"mid-commit reader must get the clean refusal, got: ${e.getMessage}")
    // recovery: a fresh save sweeps the debris and commits normally
    ModelStore.save(spark, path, ModelStore.perceptron, dir, Array(7L, 7L, 7L, 7L, 7L, 7L))
    assert(ModelStore.load(spark, path, ModelStore.perceptron, dir).toSeq ===
      Seq(7L, 7L, 7L, 7L, 7L, 7L))
    assert(!staging.exists(), "commit must clean up the staging dir")
  }

  test("torn-payload guard: meta row count disagreeing with the payload " +
    "refuses") {
    import spark.implicits._
    val path = tmp("torn")
    ModelStore.save(spark, path, ModelStore.perceptron, dir, Array(1L, 2L, 3L, 4L, 5L, 6L))
    // corrupt: rewrite the payload with fewer rows while keeping the
    // committed meta (simulates a storage-level truncation the commit
    // protocol itself cannot see)
    Seq((0, 1L), (1, 2L)).toDF("ord", "w")
      .write.mode("overwrite").parquet(s"$path/payload.parquet")
    val e = intercept[IllegalArgumentException] {
      ModelStore.load(spark, path, ModelStore.perceptron, dir)
    }
    assert(e.getMessage.contains("TORN artifact"))
  }

  test("crash contract: a store without its meta commit marker refuses") {
    // save order is payload FIRST, meta LAST — simulate a save that
    // died before the commit marker by deleting meta.parquet: load
    // must fail loudly (no meta = no artifact), never serve the
    // orphaned payload
    val path = tmp("crash")
    ModelStore.save(spark, path, ModelStore.perceptron, dir, Array(1L, 2L, 3L, 4L, 5L, 6L))
    def rmdir(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmdir))
      f.delete()
    }
    rmdir(new java.io.File(path, "meta.parquet"))
    intercept[Exception] {
      ModelStore.load(spark, path, ModelStore.perceptron, dir)
    }
  }

  test("staleness gate: moved fingerprint and wrong family both refuse") {
    import spark.implicits._
    val path = tmp("stale")
    // stamp an artifact against a COPY of the dataset, then touch the
    // copy: the fingerprint moves, the load must throw
    val copy = tmp("data")
    Tables(spark, dir, "documents").write.parquet(s"$copy/documents.parquet")
    val w = Array(1L, 2L, 3L, 4L, 5L, 6L)
    ModelStore.save(spark, path, ModelStore.perceptron, copy, w)
    assert(ModelStore.load(spark, path, ModelStore.perceptron, copy).toSeq === w.toSeq)
    // regenerate the table under the same path -> new fingerprint
    // (reads from the ORIGINAL dir so the overwritten path is not
    // simultaneously a read source)
    Tables(spark, dir, "documents").limit(5).write.mode("overwrite")
      .parquet(s"$copy/documents.parquet")
    intercept[IllegalArgumentException] {
      ModelStore.load(spark, path, ModelStore.perceptron, copy)
    }
    // wrong family: an ivf ask on a perceptron artifact refuses
    intercept[IllegalArgumentException] {
      ModelStore.load(spark, path, ModelStore.ivf, copy, requireFresh = false)
    }
    // deliberate pinned-model serve: requireFresh=false loads anyway
    val (meta, payload) = ModelStore.load(spark, path, "perceptron",
      "ignored", None, requireFresh = false)
    assert(meta.family === "perceptron")
    assert(payload.orderBy("ord").select("w").as[Long].collect().toSeq
      === w.toSeq)
  }
}
