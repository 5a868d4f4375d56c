package graft.examples

import graft.{LocalSession, ModelStore, SparkEntry, Tables}

/** End-to-end persistent-artifact lifecycle — the train → save →
  * reload → install → serve loop a production deployment runs across
  * process restarts, over every trained family the engine serves:
  * IVF centroids, PQ K=256 codebook, OPQ rotation, BPE merges +
  * segmentation, perceptron weights, Bloom bitmap, DSIR domain model,
  * anomaly baseline, and the HDR/HLL/CMS sketch states. Every family
  * goes through the same three calls over its [[ModelStore.Family]]
  * declaration — `save`, `load` (stamp-validated) and, for the models
  * served from a memo slot, `install`; BPE installs through
  * `BpeTrainer.installModel`, whose slots are session-scoped. Each
  * line reports the round-trip (structural equality) and a
  * reloaded-serving parity check against the in-memory path — the
  * bit-equal contract ModelStoreSpec pins per family.
  *
  *   sbt "runMain graft.examples.StoreDemo [storeDir [dataDir]]"
  */
object StoreDemo {

  def main(args: Array[String]): Unit = {
    val store = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-store").toString)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession("ERROR")
    import graft.operators.{Behavior, BpeTrainer, Dedup, Dsir, Perceptron, Pq, Similarity}
    import spark.implicits._

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // save, then reload stamp-validated against the same dataset
    def roundTrip[V](family: ModelStore.Family[V], name: String, v: V): V = {
      ModelStore.save(spark, s"$store/$name", family, dir, v)
      ModelStore.load(spark, s"$store/$name", family, dir)
    }

    // IVF
    val ivf = Similarity.trainedCentroids(spark, dir)
    val ivfBase = rows(SparkEntry.queries("ann_ivf")(spark, dir))
    val ivfL = roundTrip(ModelStore.ivf, "ivf", ivf)
    ModelStore.install(ModelStore.ivf, dir, ivfL)
    println(s"[demo] ivf: ${ivfL.length} centroids round-trip=" +
      s"${ivfL == ivf} serve-parity=" +
      s"${rows(SparkEntry.queries("ann_ivf")(spark, dir)) == ivfBase}")

    // PQ K=256
    val k = Pq.productionCodebookSize
    val pq = Pq.trainedCodebook(spark, dir, k)
    val pqL = roundTrip(ModelStore.pq(k), "pq", pq)
    ModelStore.install(ModelStore.pq(k), dir, pqL)
    println(s"[demo] pq: K=$k ${pqL.length} codewords round-trip=${pqL == pq}")

    // OPQ rotation (exact-integer micros — round-trip exact by
    // construction; the regime flag rides along)
    val opq = graft.operators.Opq.trainedRotation(spark, dir)
    val opqBase = rows(SparkEntry.queries("opq_rotation")(spark, dir))
    val opqL = roundTrip(ModelStore.opq, "opq", opq)
    ModelStore.install(ModelStore.opq, dir, opqL)
    println(s"[demo] opq: ${opqL.dims.length}-dim rotation " +
      s"regime=${if (opqL.exact) "closed-form" else "iterative"} " +
      s"round-trip=${opqL.lams.sameElements(opq.lams)} serve-parity=" +
      s"${rows(SparkEntry.queries("opq_rotation")(spark, dir)) == opqBase}")

    // BPE
    val merges = BpeTrainer.defaultMerges
    val gate = BpeTrainer.driverTypeLimit
    val mergeRows = BpeTrainer.train(spark, dir)
      .as[(Long, String, String, String, Long)].collect().toSeq
    val encBase = rows(SparkEntry.queries("text_bpe_encode")(spark, dir))
    val seg = BpeTrainer.segmentation(spark, dir)
    val mergesL = roundTrip(ModelStore.bpeMerges(merges, gate), "bpe-m", mergeRows)
    val segL = roundTrip(ModelStore.bpeSegmentation(merges, gate), "bpe-s", seg)
    BpeTrainer.installModel(spark, dir, merges, gate, mergesL, segL)
    println(s"[demo] bpe: ${mergesL.length} merges round-trip=" +
      s"${mergesL == mergeRows} encode-parity=" +
      s"${rows(SparkEntry.queries("text_bpe_encode")(spark, dir)) == encBase}")

    // Perceptron
    val w = Perceptron.trainedWeights(spark, dir)
    val wL = roundTrip(ModelStore.perceptron, "perceptron", w)
    ModelStore.install(ModelStore.perceptron, dir, wL)
    println(s"[demo] perceptron: ${wL.length} weights round-trip=" +
      s"${wL.toSeq == w.toSeq}")

    // Bloom
    val (m, words) = Dedup.bloomArtifact(spark, dir)
    val (mL, wordsL) = roundTrip(ModelStore.bloom, "bloom", (m, words))
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val gateParity =
      rows(graft.streaming.StreamingDedup.maybeDupStream(docs, mL, wordsL)
        .orderBy("doc_id")) ==
      rows(graft.streaming.StreamingDedup.maybeDupStream(docs, m, words)
        .orderBy("doc_id"))
    println(s"[demo] bloom: m=$mL ${wordsL.length} words round-trip=" +
      s"${mL == m && wordsL.toSeq == words.toSeq} gate-parity=$gateParity")

    // DSIR
    val dsir = Dsir.trainedWeights(spark, dir)
    val dsirL = roundTrip(ModelStore.dsir, "dsir", dsir)
    val dsirParity = rows(Dsir.streamingScores(docs, dsirL).orderBy("doc_id")) ==
      rows(Dsir.streamingScores(docs, dsir).orderBy("doc_id"))
    println(s"[demo] dsir: ${dsirL.count(_ != 0L)} live buckets round-trip=" +
      s"${dsirL.toSeq == dsir.toSeq} score-parity=$dsirParity")

    // Anomaly baseline
    val base = Behavior.anomalyBaseline(spark, dir).localCheckpoint(true)
    val baseL = roundTrip(ModelStore.anomalyBaseline, "anomaly", base)
    val events = Tables(spark, dir, "events")
    val monParity =
      rows(Behavior.streamingAnomalies(events, baseL)
        .orderBy("event_type", "hour_idx")) ==
      rows(Behavior.streamingAnomalies(events, base)
        .orderBy("event_type", "hour_idx"))
    println(s"[demo] anomaly: ${baseL.count()} type baselines " +
      s"monitor-parity=$monParity")

    // HDR sketch cells: persisted nightly base + fresh delta slice
    import graft.operators.Sketches
    ModelStore.save(spark, s"$store/hdr", ModelStore.hdrCells("base"), dir,
      Sketches.hdrCellsOf(spark, dir, Sketches.hdrBaseSide))
    val hdrParity =
      rows(Sketches.hdrQuantilesServed(spark, dir, s"$store/hdr")) ==
      rows(Sketches.hdrQuantiles(spark, dir))
    println(s"[demo] hdr-cells: store-served base+delta == full recompute: " +
      s"$hdrParity")

    // HLL daily registers: persisted base MAX-merged with the delta
    ModelStore.save(spark, s"$store/hll", ModelStore.hllDailyRegs("base"), dir,
      Sketches.hllDailyRegsOf(spark, dir, Sketches.hllBaseSide))
    val hllParity =
      rows(Sketches.hllDailyServed(spark, dir, s"$store/hll")) ==
      rows(Sketches.hllDailyUsers(spark, dir))
    println(s"[demo] hll-regs: store-served base+delta == full recompute: " +
      s"$hllParity")

    // CMS cells: persisted base summed keyed with the delta batch
    ModelStore.save(spark, s"$store/cms", ModelStore.cmsCells("base"), dir,
      Sketches.cmsCellsOf(spark, dir, Sketches.cmsBaseSide))
    val cmsParity =
      rows(Sketches.cmsTokenCountsServed(spark, dir, s"$store/cms")) ==
      rows(Sketches.cmsTokenCounts(spark, dir))
    println(s"[demo] cms-cells: store-served base+delta == full recompute: " +
      s"$cmsParity")

    // staleness: the stamp refuses an artifact for a different dataset
    val foreign = java.nio.file.Files.createTempDirectory("graft-foreign").toString
    val refused =
      try { ModelStore.load(spark, s"$store/ivf", ModelStore.ivf, foreign); false }
      catch { case _: IllegalArgumentException => true }
    println(s"[demo] staleness gate refuses a foreign dataset: $refused")

    spark.stop()
  }
}
