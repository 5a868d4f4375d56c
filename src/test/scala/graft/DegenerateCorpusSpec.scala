package graft

import graft.operators.{Behavior, CdcHistory, Dedup, MergeInto, Multimodal, Perceptron, Retrieval, Sampling, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Degenerate-corpus robustness: every corpus operator must return an
  * empty (or singleton) result on an empty / one-document corpus, not
  * throw — the failure mode iterative pipelines (label propagation) and
  * join-shaped ops hit first in production when a partition filter
  * matches nothing.
  */
class DegenerateCorpusSpec extends SparkSpec {

  private def writeCorpus(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("degenerate").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // matching embeddings table: one 8-dim vector per document
    rows.map { case (id, _, _, _) =>
      (id, (0 until 8).map(j => (1.0f + id + j)), s"l${id % 3}")
    }.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def opCounts(dir: String): Seq[(String, Long)] = Seq(
    "exact" -> Dedup.exact(spark, dir).count(),
    "minhash" -> Dedup.minhashSignatures(spark, dir).count(),
    "lsh_pairs" -> Dedup.lshCandidatePairs(spark, dir).count(),
    "simhash_pairs" -> Dedup.simhashPairs(spark, dir).count(),
    "jaccard" -> Dedup.ngramJaccardPairs(spark, dir).count(),
    "survivors" -> Dedup.survivors(spark, dir).count(),
    "tfidf" -> Retrieval.tfidfKeywords(spark, dir).count(),
    "bm25" -> Retrieval.bm25Scores(spark, dir).count(),
    "repetition" -> TextAnalysis.repetitionSignals(spark, dir).count(),
    "winnow_pairs" -> TextAnalysis.winnowPassagePairs(spark, dir).count(),
    "cms" -> Sketches.cmsTokenCounts(spark, dir).count(),
    "quality_filter" -> Sampling.qualityFilter(spark, dir).count(),
    "temperature_mix" -> Sampling.temperatureMix(spark, dir).count(),
    "unigram_nll" -> TextAnalysis.unigramNll(spark, dir).count(),
    "video_frames" -> Multimodal.videoFrameIndex(spark, dir).count(),
    "semantic_dedup" -> Similarity.semanticDedup(spark, dir).count(),
    "bloom" -> Dedup.bloomIncremental(spark, dir).count(),
    "pq_codes" -> graft.operators.Pq.pqCodes(spark, dir).count(),
    "pq_codes_packed" -> graft.operators.Pq.pqCodesPacked(spark, dir).count(),
    "pq_adc_join" -> graft.operators.Pq.pqAdcJoin(spark, dir).count(),
    "pq_adc_packed" -> graft.operators.Pq.pqAdcPacked(spark, dir).count(),
    "ivf_assign_prod" -> Similarity.ivfAssignProd(spark, dir).count(),
    "ivf2_search" -> graft.operators.IvfTwoLevel.search(spark, dir).count(),
    "source_cap" -> Sampling.sourceCap(spark, dir).count(),
    "classifier" -> Perceptron.classifier(spark, dir).count(),
    "bpe_encode" -> graft.operators.BpeTrainer.encode(spark, dir).count(),
    "dup_spans" -> Dedup.dupSpans(spark, dir).count(),
    "span_clean" -> Dedup.spanClean(spark, dir).count(),
    "gopher" -> TextAnalysis.gopherRules(spark, dir).count(),
    "srp_sigs" -> graft.operators.RandomProjection.signatures(spark, dir).count(),
    "srp_pairs" -> graft.operators.RandomProjection.pairs(spark, dir).count(),
    "srp_recall" -> graft.operators.RandomProjection.recall(spark, dir).count(),
    "jl_topk" -> graft.operators.RandomProjection.jlTopK(spark, dir).count(),
    "dsir" -> graft.operators.Dsir.weights(spark, dir).count(),
    "dsir_resample" -> graft.operators.Dsir.resample(spark, dir).count(),
    "rrf" -> Retrieval.rrfFusion(spark, dir).count(),
    "chunks" -> Sampling.chunkWindows(spark, dir).count(),
    "shuffle_order" -> Sampling.shuffleOrder(spark, dir).count(),
    "pagerank" -> graft.operators.GraphRank.pagerankDupGraph(spark, dir).count(),
    "triangles" -> graft.operators.GraphRank.triangleStats(spark, dir).count(),
    "novelty" -> TextAnalysis.noveltyScores(spark, dir).count(),
    "pmi" -> TextAnalysis.pmiPairs(spark, dir).count(),
    "lz" -> TextAnalysis.lzComplexity(spark, dir).count(),
    "length_hist" -> TextAnalysis.lengthHistogram(spark, dir).count(),
    "split_kl" -> Sampling.splitKlDrift(spark, dir).count(),
    "edit_verify" -> Dedup.editDistancePairs(spark, dir).count(),
    "containment" -> Dedup.containmentPairs(spark, dir).count(),
    "opq_rotation" -> graft.operators.Opq.rotationRows(spark,
      graft.operators.Opq.trainedRotation(spark, dir)).count(),
    "mrl_topk" -> graft.operators.Quantize.mrlTopK(spark, dir).count(),
    "mrl_overlap" -> graft.operators.Quantize.mrlOverlap(spark, dir).count(),
    "dim_variance" -> graft.operators.Quantize.dimVariance(spark, dir).count(),
    "label_sep" -> graft.operators.Quantize.labelSeparation(spark, dir).count(),
    "weighted_sample" -> Sampling.weightedSample(spark, dir).count(),
    "dhash" -> Multimodal.dhashIndex(spark, dir).count(),
    "dhash_pairs" -> Multimodal.dhashPairs(spark, dir).count(),
    "bigram_nll" -> TextAnalysis.bigramNll(spark, dir).count(),
    "cluster_sample" -> Similarity.clusterSample(spark, dir).count(),
    "audio_features" -> Multimodal.audioFeatureIndex(spark, dir).count(),
    "pii_redact" -> TextAnalysis.piiRedact(spark, dir).count(),
    "top_pc" -> graft.operators.Quantize.topPrincipalComponent(spark, dir).count(),
    "abtt" -> graft.operators.Quantize.abttResiduals(spark, dir).count(),
    "greedy_chunks" -> TextAnalysis.greedyChunks(spark, dir).count(),
    "pareto" -> Sampling.paretoFrontier(spark, dir).count(),
    "prefix_join" -> Dedup.prefixJaccardJoin(spark, dir).count(),
    "blocking_eval" -> Dedup.blockingEval(spark, dir).count(),
    "cc_incremental" -> Dedup.ccIncremental(spark, dir).count(),
    "hard_negatives" -> graft.operators.Quantize.hardNegatives(spark, dir).count(),
    "mutual_knn" -> Similarity.mutualKnnPairs(spark, dir).count(),
    "knn_accuracy" -> Similarity.knnLabelAccuracy(spark, dir).count(),
    "source_kl" -> Sampling.sourceKlDrift(spark, dir).count(),
    "blocking_sweep" -> Dedup.blockingEvalSweep(spark, dir).count(),
    "minhash_est" -> Dedup.minhashEstimatorAudit(spark, dir).count(),
    "cms_incremental" -> Sketches.cmsTokenCountsIncremental(spark, dir).count(),
    "ndcg" -> Retrieval.ndcgQuality(spark, dir).count(),
    "pack_bpe" -> Sampling.packSequencesBpe(spark, dir).count(),
    "budget_bpe" -> Sampling.tokenBudgetBpe(spark, dir).count(),
    "padding_waste" -> Sampling.paddingWaste(spark, dir).count(),
    "padding_waste_bpe" -> Sampling.paddingWasteBpe(spark, dir).count(),
    "blocklist" -> TextAnalysis.blocklistFilter(spark, dir).count(),
    "line_dedup" -> TextAnalysis.lineDedup(spark, dir).count(),
    "line_dedup_incr" -> TextAnalysis.lineDedupIncremental(spark, dir).count(),
    "normalize" -> TextAnalysis.normalizeText(spark, dir).count(),
    // always emits the 5 planted probes on top of the corpus
    "normalize_unicode" -> TextAnalysis.normalizeTextUnicode(spark, dir).count())

  test("empty corpus: every operator returns empty, none throws") {
    val dir = writeCorpus(Seq.empty)
    opCounts(dir).foreach { case (name, n) =>
      // recall/audit rows are global aggregates: one row even when empty
      val expect =
        if (Set("srp_recall", "triangles", "split_kl", "mrl_overlap",
          "blocking_eval", "ndcg")(name)) 1L
        else if (name == "blocking_sweep")
          Dedup.blockingSweepGeometries.length.toLong
        else if (name == "normalize_unicode")
          TextAnalysis.unicodeProbes.size.toLong
        else 0L
      assert(n === expect, s"$name must be ${expect} on an empty corpus")
    }
  }

  test("single-document corpus: pair ops empty, per-doc ops singleton") {
    val dir = writeCorpus(Seq(
      (7L, "the lone document has plenty of tokens to hash and to score", "en", "s")))
    val counts = opCounts(dir).toMap
    Seq("lsh_pairs", "simhash_pairs", "jaccard", "winnow_pairs")
      .foreach(n => assert(counts(n) === 0L, s"$n must have no pairs"))
    Seq("exact", "minhash", "repetition", "temperature_mix", "unigram_nll",
        "semantic_dedup")
      .foreach(n => assert(counts(n) === 1L, s"$n must be a singleton"))
    assert(counts("survivors") === 1L, "the lone doc survives")
    assert(counts("line_dedup_incr") === 0L,
      "doc_id=7 is base-side; the delta batch is empty")
    assert(counts("normalize_unicode") ===
      1L + graft.operators.TextAnalysis.unicodeProbes.size,
      "the lone doc plus the planted probes")
    assert(counts("tfidf") === 3L, "top-3 keywords of the lone doc")
    assert(counts("video_frames") === 3L, "doc_id=7 packs 1 + 7%5 = 3 frames")
    assert(counts("bloom") === 0L, "doc_id=7 is corpus-side; batch empty")
    assert(counts("source_cap") === 1L)
    assert(counts("classifier") === 1L)
    assert(counts("bpe_encode") === 1L, "the lone doc encodes to one row")
    assert(counts("dup_spans") === 0L, "no k-gram repeats in the lone doc")
    assert(counts("span_clean") === 1L, "the lone doc passes through uncut")
    assert(counts("gopher") === 1L, "rules score the lone doc")
    assert(counts("pq_codes") === graft.operators.Pq.numSubspaces.toLong,
      "one code per subspace for the lone vector")
    assert(counts("pq_codes_packed") === 1L, "one packed word for the lone vector")
    Seq("pq_adc_join", "pq_adc_packed", "ivf2_search").foreach(n =>
      assert(counts(n) === 0L, s"$n: doc_id=7 is not in the query sample"))
    assert(counts("ivf_assign_prod") === 1L)
    assert(counts("srp_sigs") === 1L)
    assert(counts("srp_pairs") === 0L, "no pair universe with one vector")
    assert(counts("srp_recall") === 1L, "audit row exists with n_true = 0")
    assert(counts("jl_topk") === 0L, "vec_id=7 is not in the query sample")
    assert(counts("dsir") === 1L)
    assert(counts("dsir_resample") === 1L)
    assert(counts("rrf") === 0L,
      "no query term matches and the fixed query vector is absent — " +
        "fusing two empty ranked lists is empty, not an error")
    assert(counts("chunks") === 1L, "one window covers the lone doc")
    assert(counts("shuffle_order") === 1L)
    assert(counts("pagerank") === 0L, "no overlap pairs, no graph nodes")
    assert(counts("triangles") === 1L, "census row exists with zero triangles")
    assert(counts("novelty") === 1L, "the lone doc is all-novel")
    assert(counts("pmi") === 0L, "no pair reaches the min-count floor")
    assert(counts("lz") === 1L)
    assert(counts("length_hist") === 1L, "one occupied length bucket")
    assert(counts("split_kl") === 1L, "drift summary row exists regardless")
    Seq("edit_verify", "containment").foreach(n =>
      assert(counts(n) === 0L, s"$n has no candidate pairs"))
    assert(counts("mrl_topk") === 0L, "vec_id=7 is not in the query sample")
    assert(counts("mrl_overlap") === 1L, "audit row exists with 0 queries")
    assert(counts("dim_variance") === 8L, "one row per fixture dim")
    assert(counts("label_sep") === 0L, "one label has no pairs")
    assert(counts("weighted_sample") === 1L)
    assert(counts("dhash") === 1L, "the lone doc's image hashes")
    assert(counts("dhash_pairs") === 0L, "no pair universe with one image")
    assert(counts("bigram_nll") === 1L,
      "odd lone doc scores against an empty train half — all backoff, no throw")
    assert(counts("cluster_sample") === 1L,
      "one vector → one cell → one sampled row")
    assert(counts("audio_features") === 1L,
      "the lone doc's WAV decodes to one feature row")
    assert(counts("pii_redact") === 1L, "redaction rewrites the lone doc")
    assert(counts("top_pc") === 8L,
      "one loading row per fixture dim, all zero for the centered lone vector")
    assert(counts("abtt") === 1L, "lone centered vector projects to (0, 0)")
    assert(counts("greedy_chunks") === 1L, "the 59-char lone doc is one chunk")
    assert(counts("pareto") === 1L, "the lone doc dominates nothing and is undominated")
    assert(counts("prefix_join") === 0L, "no pair universe with one document")
    assert(counts("cc_incremental") === 0L, "no pairs, no graph nodes")
    assert(counts("hard_negatives") === 0L,
      "a one-label universe has no other-label centroid to mine against")
    assert(counts("mutual_knn") === 0L, "no pair universe with one vector")
    assert(counts("knn_accuracy") === 0L, "no neighbors, no votes")
    assert(counts("source_kl") === 1L,
      "the lone source IS the corpus — one row, KL exactly 0")
    assert(counts("blocking_sweep") ===
      Dedup.blockingSweepGeometries.length.toLong,
      "one report row per geometry, zero pairs everywhere")
    assert(counts("minhash_est") === 0L, "no pair universe with one document")
    assert(counts("cms_incremental") === counts("cms"),
      "incremental CMS reads back the same per-token rows as the full sketch")
    assert(counts("ndcg") === 1L,
      "report row exists; no query term matches so idcg=0 -> ndcg NULL")
    assert(counts("padding_waste") === 2L,
      "one row per policy for the lone (lang, batch)")
    assert(counts("padding_waste_bpe") === 2L, "same under BPE accounting")
    assert(counts("blocklist") === 1L,
      "the lone doc gets a keep/drop verdict (zero hits, kept)")
  }

  test("constant corpus: zero total variance yields NULL shares, not ANSI 0/0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("degenerate-const").toString
    // ≥2 IDENTICAL embeddings: every per-dim sample variance is 0.0,
    // so total_var is a NON-NULL 0.0 and the share divisions would be
    // ANSI 0/0 errors without the CASE guard
    Seq(1L, 2L, 3L).map(id => (id, (0 until 8).map(_ => 0.5f), s"l${id % 3}"))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    val rows = graft.operators.Quantize.dimVariance(spark, dir).collect()
    assert(rows.length === 8L, "one row per fixture dim")
    rows.foreach { r =>
      assert(r.getAs[Double]("variance") === 0.0)
      assert(r.isNullAt(r.fieldIndex("var_share")))
      assert(r.isNullAt(r.fieldIndex("cum_share")))
    }
  }

  private def writeEvents(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("degenerate-ev").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    dir
  }

  private def cdcCounts(dir: String): Seq[(String, Long)] = Seq(
    "scd2" -> CdcHistory.scd2History(spark, dir).count(),
    "asof" -> CdcHistory.asOfFinal(spark, dir).count(),
    "snapshot_diff" -> CdcHistory.snapshotDiff(spark, dir).count(),
    "merge_apply" -> MergeInto.mergeApply(spark, dir).count())

  test("empty change log: every temporal view is empty, none throws on a null max-version") {
    val dir = writeEvents(Seq.empty)
    cdcCounts(dir).foreach { case (name, n) =>
      assert(n === 0L, s"$name must be empty on an empty log")
    }
  }

  test("single-event log: cuts exclude everything below them without throwing") {
    val dir = writeEvents(Seq(
      (5L, new java.sql.Timestamp(1700000000000L), 7L, "click", 1.5)))
    val counts = cdcCounts(dir).toMap
    assert(counts("scd2") === 1L, "one open interval")
    // cut = floor(5/2) = 2 excludes the only event — empty, not an error
    assert(counts("asof") === 0L)
    assert(counts("snapshot_diff") === 0L, "both cuts below the only event")
    assert(counts("merge_apply") === 0L)
    // one event = one session, but a 1-hour baseline can never flag
    assert(graft.operators.Intervals.anomalyOverlap(spark, dir).count() === 0L,
      "no hour has a full 24-hour prior baseline, so nothing flags")
    assert(graft.operators.Temporal.topPaths(spark, dir).count() === 0L,
      "one session's path cannot reach the 2-session floor")
    assert(Behavior.funnelLatency(spark, dir).count() === 0L,
      "a lone click is no transition — empty report, not a throw")
  }

  test("empty warehouse: orders/events aggregates degrade, none throws") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("degenerate-wh").toString
    Seq.empty[(Long, Long, String, Double, java.sql.Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/orders.parquet")
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    Seq.empty[(Long, Long, Double)]
      .toDF("l_orderkey", "l_partkey", "l_quantity")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/lineitem.parquet")
    Seq.empty[(Long, String)]
      .toDF("c_custkey", "c_mktsegment")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/customer.parquet")
    assert(graft.operators.Analytics.rfmSegments(spark, dir).count() === 0L)
    assert(graft.operators.Associations.marketBasket(spark, dir).count() === 0L,
      "no baskets, no pairs — and the support division never sees a row")
    assert(graft.operators.Intervals.anomalyOverlap(spark, dir).count() === 0L,
      "no sessions and no flagged hours on an empty event log")
    // gini's (n+1)/n term is a non-null 1/0 on an empty warehouse —
    // must degrade to a NULL gini behind its CASE guard, not ANSI-throw
    val gini = graft.operators.Analytics.spendGini(spark, dir).collect()
    assert(gini.length === 1L, "gini audit row exists even when empty")
    assert(gini.head.getAs[Long]("n_customers") === 0L)
    assert(gini.head.isNullAt(gini.head.fieldIndex("gini")))
    // the HLL spine keeps all 64 registers, every ρ = 0; the estimate
    // row exists with a NULL rel_err (no exact count to compare)
    val regs = Sketches.hllRegistersQuery(spark, dir).collect()
    assert(regs.length === Sketches.hllRegisters)
    assert(regs.forall(_.getLong(1) === 0L))
    val est = Sketches.hllDistinct(spark, dir).collect().head
    assert(est.getAs[Long]("n_exact") === 0L)
    assert(est.isNullAt(est.fieldIndex("rel_err")))
    assert(Sketches.histogramQuantiles(spark, dir).count() === 0L)
    // empty warehouse: no cells, no targets can be met -> empty read-off
    assert(Sketches.hdrQuantiles(spark, dir).count() === 0L)
    assert(Sketches.hdrQuantilesIncremental(spark, dir).count() === 0L)
    assert(Sketches.hdrQuantilesBySegment(spark, dir).count() === 0L)
    assert(Sketches.hllDailyIncremental(spark, dir).count() === 0L)
    // CUPED on an empty warehouse: the report row exists, every
    // statistic NULL behind its guard (the n*sxx - sx^2 > 0 and
    // both-arms predicates see NULLs, never an ANSI 0/0)
    val cuped = Behavior.cupedAb(spark, dir).collect()
    assert(cuped.length === 1)
    assert(cuped.head.getAs[Long]("n_customers") === 0L)
    assert(cuped.head.isNullAt(cuped.head.fieldIndex("theta")))
    assert(cuped.head.isNullAt(cuped.head.fieldIndex("diff_cuped")))
    assert(Behavior.forecastBaseline(spark, dir).count() === 0L)
    assert(Behavior.eventTransitions(spark, dir).count() === 0L)
    assert(Behavior.hourlyAnomalies(spark, dir).count() === 0L)
  }
}
