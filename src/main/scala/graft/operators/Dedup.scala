package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for large-scale document corpora (north-star
  * extension ops, BASELINE.json): exact, MinHash signatures, MinHash-LSH
  * candidate pairs, SimHash, and n-gram Jaccard.
  *
  * Hash-parity design: every hash is built from `md5` over UTF-8 bytes —
  * the one hash primitive Spark and DuckDB share bit-for-bit — so the
  * driver's oracle can verify signatures exactly, not just row counts.
  *
  * Scale notes (100 TB):
  *  - signatures are one narrow pass (shingle/hash/min all inside
  *    whole-stage codegen via higher-order array functions — no explode,
  *    no shuffle, no UDF);
  *  - LSH banding turns the quadratic all-pairs problem into an
  *    equi-join on (band, key): Spark shuffles both sides by the band
  *    key — the classic shingle→minhash→band→bucket-join pipeline;
  *  - the Jaccard verifier joins on shared shingles, which is safe only
  *    on a candidate-restricted subset (here: every 10th doc) — at
  *    scale you run it AFTER LSH pruning, never on the full corpus.
  */
object Dedup {

  /** Char n-gram shingle array via SQL higher-order functions
    * (substring with a column-valued position is only exposed through
    * expr). Codegen'd — no explode, no UDF.
    */
  private def shingleExpr(n: Int): Column =
    expr(s"transform(sequence(1, length(text) - ${n - 1}), i -> substring(text, i, $n))")

  /** Number of MinHash functions (8-hex-char slices of seeded md5
    * digests — see [[graft.functions.MinHashUtil]]). k = b×r; with
    * r = 4 rows per band the LSH collision probability per band is
    * s⁴ (s = true Jaccard similarity), so the candidate threshold sits
    * near (1/b)^(1/r) ≈ 0.71 — tuned for near-duplicate detection.
    */
  val numHashes = 16

  /** LSH banding: b bands × r rows (numBands × rowsPerBand == numHashes). */
  val numBands = 4
  val rowsPerBand = 4

  /** Exact dedup, keep-first: one surviving doc_id per normalized text
    * plus its copy count. Groups by the md5 of the normalized text, not
    * the text itself: map-side partial aggregation collapses duplicates
    * before the exchange either way, but the shuffle rows carry a
    * 16-byte digest instead of the document body — at corpus scale the
    * exchange moves ~32 bytes/group instead of the whole corpus.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(md5(lower(trim(col("text"))).cast("binary")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** MinHash signatures: a seeded family of md5 digests per char-8-gram
    * shingle, sliced into [[numHashes]] independent 8-hex-char hash
    * functions, min per slice — computed in a single codegen'd pass by
    * the native [[graft.functions.NgramMinHashMd5]] expression (no
    * shingle array, no per-shingle digest string; ~20× the
    * composed-builtin form). Narrow: zero shuffles before the sort.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    signaturesUnsorted(spark, dir).orderBy("doc_id")

  /** Signature pass without the presentation sort — what downstream
    * operators (LSH banding) consume; the sort is oracle-output only.
    */
  private[operators] def signaturesUnsorted(spark: SparkSession, dir: String): DataFrame =
    // spread: the md5-shingle kernel is the cost; a single-row-group
    // file would serialize it on one core (Tables.spread scaladoc)
    Tables.spread(spark, dir, "documents")
      .filter(length(col("text")) >= 8)
      .withColumn("sig",
        graft.functions.NgramMinHashMd5.signature(col("text"), 8, numHashes))
      .select(
        col("doc_id") +:
        (0 until numHashes).map(k => element_at(col("sig"), k + 1).as(s"h$k")): _*)

  /** MinHash-LSH candidate pairs: signatures banded [[numBands]] ×
    * [[rowsPerBand]]; docs sharing any band key become a candidate
    * pair. Band keys are md5 over the band's concatenated slices, so
    * key cardinality is full 128-bit — bucket population stays O(dup
    * group size), never O(N/constant). The band explode + equi-join is
    * the scale path — no all-pairs comparison ever materializes.
    */
  def lshCandidatePairs(spark: SparkSession, dir: String): DataFrame =
    lshPairsUnsorted(spark, dir).orderBy("a_id", "b_id")

  /** md5 band key over the seeded-slice signature's rows for band `b`:
    * direct concat is separator-free but safe — every hⱼ is a
    * fixed-width 8-hex-char slice, so band values can't alias.
    * (Variable-width values MUST use the '_'-separated form below.)
    */
  private def narrowBandKey(b: Int): Column =
    md5(concat((b * rowsPerBand until (b + 1) * rowsPerBand)
      .map(j => col(s"h$j")): _*).cast("binary")).as(s"b$b")

  /** md5 band key over the affine (wide) signature's rows for band `b`
    * of `rows` values: the '_' separator is REQUIRED here — the wide
    * signature values are variable-width decimal bigints ('1_23' vs
    * '12_3' must differ) — and keeps full 128-bit key cardinality, so
    * bucket population stays O(dup-group size).
    */
  private def wideBandKey(b: Int, rows: Int): Column =
    md5(concat_ws("_", (b * rows until (b + 1) * rows)
      .map(j => col(s"h$j").cast("string")): _*).cast("binary")).as(s"b$b")

  /** (doc_id, b0..b{n-1}) → long (doc_id, band, key) band table — the
    * shared explode step of every LSH variant. ONE posexplode pass:
    * the historical union-of-per-band-selects existed to manufacture
    * parallelism out of a 1-partition signature checkpoint, but once
    * the signature scan itself is spread (Tables.spread) it multiplies
    * tasks by nBands × partitions — the r18 sweep profile read ~1,800
    * tiny tasks for the 8+16+32 geometries, pure scheduling overhead
    * (guide §2.2: fewer, larger tasks).
    */
  private def bandTable(sigs: DataFrame, nBands: Int): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(array((0 until nBands).map(b => col(s"b$b")): _*)))
      .toDF("doc_id", "band", "key")

  /** Checkpointed band table over the k=16 seeded-slice signatures.
    * Materialized once: the band join references this subtree on both
    * sides and Spark would recompute the (md5-heavy) signature scan
    * per reference otherwise. At cluster scale the same pattern is
    * "write the signature/band table, then join it" — localCheckpoint
    * is the single-job analog.
    */
  private def narrowBands(spark: SparkSession, dir: String): DataFrame =
    bandTable(
      signaturesUnsorted(spark, dir)
        .select(col("doc_id") +: (0 until numBands).map(narrowBandKey): _*)
        .localCheckpoint(),
      numBands)

  /** The band→bucket self-join every LSH variant runs: one (a_id,
    * b_id, band) row per band on which two documents' keys collide,
    * a_id < b_id.
    */
  private def bandCollisions(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.band").as("band"))

  /** Candidate pairs: documents colliding on at least one band. */
  private def bandPairs(bands: DataFrame): DataFrame =
    bandCollisions(bands).select("a_id", "b_id").distinct()

  private[operators] def lshPairsUnsorted(spark: SparkSession, dir: String): DataFrame =
    bandPairs(narrowBands(spark, dir))

  /** Production-width MinHash: k = b×r = 64 hash functions — the width
    * real near-dup dedup runs at (collision threshold (1/b)^(1/r) =
    * (1/16)^(1/4) ≈ 0.5, i.e. the banding catches pairs from ~0.5
    * Jaccard up, with r=4 keeping the false-positive tail short).
    * Affordable at this width because the affine family costs ONE md5
    * per shingle + k multiply-adds ([[graft.functions.NgramMinHashAffine]]),
    * not ⌈k/4⌉ digests like the seeded-slice family above.
    */
  val wideNumHashes = 64
  val wideNumBands = 16
  val wideRowsPerBand = 4

  /** Wide MinHash signatures (k=[[wideNumHashes]] affine permutations of
    * one 32-bit md5-based hash per shingle, modulus 2³¹−1). Same narrow
    * single-pass shape as [[minhashSignatures]]: zero shuffles before
    * the presentation sort.
    */
  def minhashWide(spark: SparkSession, dir: String): DataFrame =
    wideSignaturesUnsorted(spark, dir).orderBy("doc_id")

  /** k=128 — the top of the production range. Same single-md5-per-
    * shingle pass as k=64: the digest dominates, so doubling the
    * permutation count costs far less than 2× (the bench demonstrates
    * the near-flat growth the affine family exists for).
    */
  def minhashWide128(spark: SparkSession, dir: String): DataFrame =
    affineSignaturesUnsorted(spark, dir, 128).orderBy("doc_id")

  private def wideSignaturesUnsorted(spark: SparkSession, dir: String): DataFrame =
    affineSignaturesUnsorted(spark, dir, wideNumHashes)

  private def affineSignaturesUnsorted(spark: SparkSession, dir: String,
                                       k: Int): DataFrame =
    Tables.spread(spark, dir, "documents") // spread: md5+affine kernel
      .filter(length(col("text")) >= 8)
      .withColumn("sig",
        graft.functions.NgramMinHashAffine.signature(col("text"), 8, k))
      .select(
        col("doc_id") +:
        (0 until k).map(j => element_at(col("sig"), j + 1).as(s"h$j")): _*)

  /** Wide-signature LSH candidate pairs: [[wideNumBands]]×[[wideRowsPerBand]]
    * banding over the k=64 affine signature. Band keys are md5 over the
    * '_'-joined band values — full 128-bit cardinality, so bucket
    * population stays O(dup-group size). Identical band→bucket-join
    * scale shape as [[lshCandidatePairs]], at production width.
    */
  def lshWideCandidatePairs(spark: SparkSession, dir: String): DataFrame =
    bandPairs(bandTable(
      wideSignaturesUnsorted(spark, dir)
        .select(col("doc_id") +: (0 until wideNumBands)
          .map(wideBandKey(_, wideRowsPerBand)): _*)
        .localCheckpoint(),
      wideNumBands))
      .orderBy("a_id", "b_id")

  /** Incremental LSH dedup — the daily-ingest shape: candidate pairs of
    * a NEW batch (every 10th doc here) against the EXISTING corpus
    * only, via the same band→bucket equi-join as [[lshCandidatePairs]]
    * but with the self-join replaced by new×existing. This is how
    * dedup actually runs at 100 TB: the existing corpus's band table
    * is materialized once (here: the checkpointed signature scan), and
    * each day only the new batch's bands shuffle against it — cost
    * O(batch), not O(corpus²) and not even O(corpus) per day.
    *
    * @return (new_id, existing_id) candidate pairs
    */
  def lshIncrementalPairs(spark: SparkSession, dir: String): DataFrame = {
    val bands = narrowBands(spark, dir)
    val newSide = bands.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("new_id"), col("band"), col("key"))
    val existing = bands.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("existing_id"), col("band"), col("key"))
    newSide.join(existing, Seq("band", "key"))
      .select(col("new_id"), col("existing_id"))
      .distinct()
      .orderBy("new_id", "existing_id")
  }

  /** 64-bit SimHash over whitespace tokens: per bit, sign of the sum of
    * ±1 token contributions. The 64-bit token hash is the first 16 hex
    * chars of md5 (two 32-bit halves — the shared-primitive analog of
    * a single 64-bit hash). One explode + one hash aggregate with 64
    * partial-agg-friendly sums — a single shuffle on doc_id.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashUnsorted(spark, dir).orderBy("doc_id")

  /** Width of the simhash fingerprint and its banding: 4 bands × 16
    * bits. Pigeonhole: ≤ 3 bit flips touch at most 3 of the 4 bands, so
    * every pair within the verify threshold (Hamming ≤ 3) shares at
    * least one intact band — genuine 100% recall at the stated
    * threshold. Band keys take 65,536 values, so bucket population is
    * O(N/65536) per band — candidate generation stays near-linear far
    * beyond the 256-value buckets a 16-bit fingerprint allows.
    */
  val simhashBands = 4
  val simhashBandBits = 16

  /** The [[simhashBands]]×[[simhashBandBits]] band keys of a 64-bit
    * fingerprint — the same slicing the DataFrame path applies in
    * [[simhashPairs]] (masking makes arithmetic vs logical shift
    * equivalent). Exposed as a plain function so the pigeonhole recall
    * guarantee is property-testable without a SparkSession
    * (SimHashBandPropertySpec locks it against band refactors).
    */
  def simhashBandKeys(fp: Long): Seq[Long] =
    (0 until simhashBands).map(b => (fp >> (b * simhashBandBits)) & 0xFFFFL)

  private def simhashUnsorted(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.spread(spark, dir, "documents") // spread: per-token md5
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("w"))
      .select(col("doc_id"), md5(col("w").cast("binary")).as("d"))
      .select(col("doc_id"),
        conv(substring(col("d"), 1, 8), 16, 10).cast("long").as("hlo"),
        conv(substring(col("d"), 9, 8), 16, 10).cast("long").as("hhi"))
    val sums = (0 until 64).map { j =>
      val h = if (j < 32) col("hlo") else col("hhi")
      sum(when(shiftright(h, j % 32).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1))
        .as(s"s$j")
    }
    val compose = (0 until 64).map { j =>
      when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), compose.as("simhash"))
  }

  /** SimHash candidate pairs: the 64-bit simhash banded into four
    * 16-bit slices; docs sharing any slice become candidates (see
    * [[simhashBands]] for the pigeonhole recall guarantee), then the
    * exact Hamming distance (`bit_count` of the xor) verifies at ≤ 3.
    * Same band→bucket-join shape as the MinHash LSH path: never an
    * all-pairs comparison.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhashUnsorted(spark, dir).localCheckpoint() // feeds both join sides
    val bands = (0 until simhashBands).map(b =>
        sh.select(col("doc_id"), col("simhash"), lit(b).as("band"),
          shiftright(col("simhash"), b * simhashBandBits)
            .bitwiseAND(lit(0xFFFFL)).as("key")))
      .reduce(_ unionByName _)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("a_id", "b_id")
  }

  /** Connected components over a candidate-pair graph by iterative
    * min-label propagation (Pregel-lite): every doc converges to the
    * smallest doc_id in its duplicate cluster. Near-dup clusters have
    * tiny diameter (pairs share LSH buckets), so convergence takes 2-4
    * rounds; each round is one join + one aggregate on the same key,
    * with `localCheckpoint` truncating the lineage (the loop would
    * otherwise replan the whole history every iteration — the standard
    * iterative-algorithm discipline on Spark).
    *
    * @param pairs columns (a_id, b_id); undirected edges
    * @return (id, cluster) — cluster = min doc_id reachable
    */
  /** Edge-count ceiling for the driver-side union-find fast path in
    * [[clusters]]. Near-dup candidate graphs are a small fraction of
    * the corpus (LSH prunes to O(dup pairs)); below this many directed
    * edges the whole graph fits driver memory trivially, and
    * union-find beats several distributed propagation rounds' fixed
    * job overhead. Above it, the distributed loop runs — the fast
    * path is an optimization, never a scale ceiling. The gate costs no
    * job of its own: the edge count is observed by the job that
    * checkpoints the edge table ([[Ranks.checkpointCounted]]), so the
    * fast path is that job plus one `collect`.
    */
  val smallGraphEdges = 2000000L

  /** Iteration ceiling for the propagation loop when the caller does
    * not pin one: a SAFETY bound scaled to the graph, not a constant —
    * min-propagation with path halving converges in O(log diameter),
    * but a constant cap is a landmine at scale (the round-15 ×10
    * rehearsal measured 14 rounds on a 4k-member dense component,
    * tripping the previous hard 10). 10 + 2·⌈log₂(nodes)⌉ bounds a
    * runaway loop at ~70 rounds even at 10⁹ nodes while never
    * rejecting a graph that is still making progress.
    */
  private def autoMaxIters(nodes: Long): Int =
    10 + 2 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(nodes, 1L)))

  def clusters(pairs: DataFrame, maxIters: Int = -1,
               smallGraphLimit: Long = smallGraphEdges): DataFrame = {
    val (edges, nEdges) = Ranks.checkpointCounted(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst"))))
    if (nEdges <= smallGraphLimit) return unionFindClusters(edges)
    val (nodes, nNodes) = Ranks.checkpointCounted(
      edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id")))
    var labels = nodes
    val cap = if (maxIters > 0) maxIters else autoMaxIters(nNodes)
    var converged = false
    var it = 0
    while (!converged && it < cap) {
      // each node adopts min(own label, neighbors' labels); the old
      // label rides along so convergence is a filter on the
      // checkpointed step, not another join against the previous state
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("n_cluster"))
      // NOT checkpointed: the shortcut join consumes it twice, but
      // recomputing the (tiny) join+agg subtree inside one job is
      // cheaper than materializing an extra intermediate per round —
      // one checkpoint per round bounds both lineage and job count
      val stepped = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("n_cluster"), col("cluster")))
            .as("cluster"))
      // pointer jumping (path halving): cluster := label(cluster).
      // Plain propagation needs O(diameter) rounds — a pathological
      // near-dup CHAIN (each doc similar only to its neighbors) would
      // exhaust maxIters; the shortcut join halves the remaining
      // distance every round, making convergence O(log diameter).
      // Every cluster value is itself a node id, so the self-join hits.
      val jumped = stepped.as("x")
        .join(stepped.select(col("id").as("cid"), col("cluster").as("cc")).as("y"),
          col("x.cluster") === col("y.cid"), "left")
        .select(col("x.id"), col("x.old"),
          least(col("x.cluster"), coalesce(col("cc"), col("x.cluster")))
            .as("cluster"))
        .localCheckpoint() // one materialization serves both consumers:
      converged = jumped.filter(col("cluster") =!= col("old")).isEmpty
      labels = jumped.select("id", "cluster")
      it += 1
    }
    require(converged, s"label propagation did not converge in $cap iters")
    labels
  }

  /** Driver-side union-find over a collected edge list: identical
    * fixpoint to the propagation loop (every node labeled with the
    * minimum doc_id in its component — union by min root with path
    * compression). Only invoked under [[smallGraphEdges]].
    */
  private def unionFindClusters(edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.select("src", "dst").collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
        parent(hi) = lo
      }
    }
    val spark = edges.sparkSession
    import spark.implicits._
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "cluster")
  }

  /** Quality-weighted representative selection: one survivor per
    * cluster — the highest-`quality` member, ties broken to the
    * smallest doc_id (deterministic under replay). Docs absent from
    * `labels` are singleton clusters and survive trivially. One hash
    * aggregate (`max_by` with map-side partial combining) after the
    * label join — no window sort.
    *
    * @param docs    (doc_id) — the full corpus
    * @param labels  (id, cluster) — output of [[clusters]]
    * @param quality (doc_id, quality: double) — higher is better
    */
  def qualitySurvivors(docs: DataFrame, labels: DataFrame,
                       quality: DataFrame): DataFrame =
    docs.select("doc_id")
      .join(labels, docs("doc_id") === labels("id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .join(quality, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster"),
        coalesce(col("quality"), lit(0.0)).as("quality"))
      .groupBy(col("cluster"))
      .agg(max_by(col("doc_id"), struct(col("quality"), -col("doc_id")))
        .as("doc_id"))
      .select("doc_id")

  /** The full dedup pipeline: LSH candidate pairs → duplicate clusters
    * → surviving corpus. The survivor per cluster is the
    * highest-quality member (token count discounted for a stopword
    * ratio that signals non-prose — reusing the
    * [[TextAnalysis.qualityScores]] signals), not the smallest id:
    * real corpus builds keep the best copy, not the first-crawled one.
    */
  def survivors(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val quality = docs.select(col("doc_id"),
      TextAnalysis.representativeQuality(col("text")).as("quality"))
    qualitySurvivors(docs.select("doc_id"),
      clusters(lshPairsUnsorted(spark, dir)), quality)
      .orderBy("doc_id")
  }

  /** Dedup rollout impact report — the release-notes table a corpus
    * build attaches when it ships a deduplicated version: per
    * cluster-size bucket (1, 2, 3, 4 = "4 and larger"), how many
    * clusters, documents, removed documents, and removed TOKENS the
    * rollout costs. Token loss is the number that matters at training
    * time — removing 1% of documents can remove 30% of tokens when
    * the dup clusters are boilerplate-heavy — and the per-bucket
    * split shows whether loss comes from pairs (benign) or mega
    * clusters (investigate).
    *
    * Survivor accounting matches [[survivors]] exactly (highest
    * quality, smallest-id tiebreak), so kept tokens are the
    * survivor's, not the max. One label join + two model-sized
    * aggregates past the cluster labeling; counts and token sums are
    * exact integers (quality only orders the survivor pick).
    */
  def dedupImpact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val labels = clusters(lshPairsUnsorted(spark, dir))
    val member = docs
      .select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"),
        TextAnalysis.representativeQuality(col("text")).as("quality"))
      .join(labels, docs("doc_id") === labels("id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"),
        col("n_tok"), col("quality"))
    val per = member.groupBy("cluster").agg(
      count(lit(1)).as("sz"),
      sum(col("n_tok")).as("toks"),
      max_by(col("n_tok"), struct(col("quality"), -col("doc_id")))
        .as("kept_tok"))
    per.groupBy(least(col("sz"), lit(4L)).as("size_bucket"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1L).as("n_docs_removed"),
        sum(col("toks") - col("kept_tok")).as("tokens_removed"))
      .orderBy("size_bucket")
  }

  /** Oracle-registered duplicate clusters over the LSH candidate-pair
    * graph: (id, cluster) for every doc appearing in at least one
    * candidate pair — cluster is the smallest doc_id in the connected
    * component (the converged [[clusters]] fixpoint; the DuckDB oracle
    * states the same fixpoint as a recursive reachability CTE).
    */
  def clustersQuery(spark: SparkSession, dir: String): DataFrame =
    clusters(lshPairsUnsorted(spark, dir)).orderBy("id")

  /** [[clustersQuery]] with the union-find fast path force-disabled
    * (`smallGraphLimit = 0`), so the DISTRIBUTED pointer-jumping
    * propagation loop runs even at test/bench scale. Same fixpoint,
    * same oracle — shipped as its own driver row so the propagation
    * path's correctness AND cost stay tracked round over round (at
    * bench scale the fast path otherwise always wins, leaving the
    * 100 TB code path unmeasured).
    */
  def clustersDistQuery(spark: SparkSession, dir: String): DataFrame =
    clusters(lshPairsUnsorted(spark, dir), smallGraphLimit = 0L).orderBy("id")

  /** INCREMENTAL connected components — the daily-ingest form of
    * [[clustersQuery]] that completes the incremental family
    * ([[lshIncrementalPairs]], [[bloomIncremental]],
    * [[Multimodal.dhashIncremental]]): yesterday's component labels
    * are a FROZEN artifact (modeled here as components over the
    * base-only pair graph, doc_id % 10 ≠ 0 — the bloom/LSH delta
    * convention), and a new batch merges in with work proportional to
    * the DELTA, never a full-graph recompute:
    *
    *  1. delta edges (≥ 1 new-batch endpoint) LIFT into label space —
    *     each endpoint becomes its frozen component label (new docs
    *     label themselves), a broadcast-or-shuffle equi-join;
    *  2. connected components run on that label graph, which is
    *     O(delta edges) — new docs plus only the old components they
    *     actually bridge; untouched components never move;
    *  3. one relabel join maps every node through (frozen label →
    *     merged label).
    *
    * Labels are min-ids at every step, so min(merged group) =
    * min(min base ids, new ids) = the full component's global min —
    * the output is BIT-EQUAL to a full recompute over base ∪ delta,
    * which is exactly what the oracle states (the same recursive
    * reachability fixpoint as `dedup_clusters`, full graph). Delta
    * edges cannot lift to self-loops (a delta edge has ≥ 1 endpoint
    * outside the frozen label set), but the filter stays as a guard.
    */
  def ccIncremental(spark: SparkSession, dir: String): DataFrame = {
    val pairs = lshPairsUnsorted(spark, dir).localCheckpoint()
    val delta = (c: Column) => c % 10 === 0
    val basePairs = pairs.filter(!delta(col("a_id")) && !delta(col("b_id")))
    val deltaPairs = pairs.filter(delta(col("a_id")) || delta(col("b_id")))
    val base = clusters(basePairs).localCheckpoint() // the frozen artifact
    val labelEdges = deltaPairs
      .join(base.select(col("id").as("a_id"), col("cluster").as("la")),
        Seq("a_id"), "left")
      .join(base.select(col("id").as("b_id"), col("cluster").as("lb")),
        Seq("b_id"), "left")
      .select(coalesce(col("la"), col("a_id")).as("a_id"),
        coalesce(col("lb"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    val merged = clusters(labelEdges)
    val nodes = pairs.select(col("a_id").as("id"))
      .unionByName(pairs.select(col("b_id").as("id"))).distinct()
    nodes
      .join(base.select(col("id"), col("cluster").as("bl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("bl"), col("id")).as("lbl"))
      .join(merged.select(col("id").as("lbl"), col("cluster").as("ml")),
        Seq("lbl"), "left")
      .select(col("id"), coalesce(col("ml"), col("lbl")).as("cluster"))
      .orderBy("id")
  }

  /** Document-frequency cap for the Jaccard shingle join: shingles
    * appearing in more than this many documents are dropped before the
    * self-join (standard practice — they are non-discriminative, all
    * common-English boilerplate). This bounds the join skew: the
    * hottest shingle bucket produces at most maxShingleDf² ≈ 10⁴ pair
    * rows, so total join cost is O(#shingles · K²) — linear in corpus
    * size — where the uncapped join is quadratic in the hottest
    * shingle's document count.
    */
  val maxShingleDf = 100

  /** Exploded, per-doc-distinct, df-capped shingle table over the
    * sampled corpus (every 10th doc) — the shared front half of the
    * Jaccard verifier and the contamination audit. The df-cap is a
    * broadcast blocklist: a map-side-combined groupBy(lang, g).count
    * keeps only hot shingles (tiny output), broadcast as an anti-join
    * against the gram table — the gram table is never shuffled. Both
    * stages checkpoint (raw: feeds blocklist + filter once; filtered:
    * every downstream consumer would otherwise recompute the blocklist
    * aggregate). Cluster analog: persist the shingle table.
    *
    * @param withSplit carry the train/val/test split column
    */
  private def dfCappedGrams(spark: SparkSession, dir: String,
                            withSplit: Boolean): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0 && length(col("text")) >= 8)
    val tagged =
      if (withSplit) docs.withColumn("split", Sampling.splitAssign(col("text")))
      else docs
    val keyCols = Seq(col("doc_id"), col("lang")) ++
      (if (withSplit) Seq(col("split")) else Nil)
    // materialize the per-doc projection BEFORE the explode: the
    // optimizer otherwise pushes the Generate below the projection and
    // re-evaluates the text-derived columns (split hash, shingle
    // array) once per exploded gram instead of once per document —
    // measured 4.9× slower on the gram build at sf0.1
    val rawGrams = tagged
      .withColumn("gs", array_distinct(shingleExpr(8)))
      .select(keyCols :+ col("gs"): _*)
      .localCheckpoint()
      .select(keyCols :+ explode(col("gs")).as("g"): _*)
      .localCheckpoint()
    val hot = rawGrams.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select("lang", "g")
    rawGrams.join(broadcast(hot), Seq("lang", "g"), "left_anti")
      .localCheckpoint()
  }

  /** Train→test contamination check — the benchmark-leakage audit every
    * corpus release runs: test-split documents sharing ≥3 char-8-gram
    * shingles with any train-split document (splits from
    * [[Sampling.splitAssign]], sampled to every 10th doc like the
    * Jaccard verifier). Same scale discipline as [[ngramJaccardPairs]]:
    * df-capped via the broadcast hot-gram blocklist, so the
    * cross-split shingle join is linear in corpus size, never
    * quadratic in a boilerplate shingle's document count.
    *
    * @return (test_id, n_train_matches, max_shared) per contaminated
    *         test document
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val kept = dfCappedGrams(spark, dir, withSplit = true)
    val test = kept.filter(col("split") === "test")
      .select(col("doc_id").as("test_id"), col("lang"), col("g"))
    val train = kept.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("lang"), col("g"))
    test.join(train, Seq("lang", "g"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
      .groupBy(col("test_id"))
      .agg(count(lit(1)).as("n_train_matches"), max(col("shared")).as("max_shared"))
      .orderBy("test_id")
  }

  /** n-gram Jaccard verification on a candidate-restricted subset
    * (every 10th doc, same-language pairs): |A∩B| via a join on shared
    * shingles, |A∪B| = |A|+|B|−|A∩B| — both computed over the
    * df-capped shingle sets (see [[maxShingleDf]]), so the estimate
    * stays a true Jaccard of the filtered sets.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // Per-doc set sizes join onto the (small) aggregated pair output,
    // not the gram table; see [[dfCappedGrams]] for the blocklist +
    // checkpoint discipline.
    val grams = dfCappedGrams(spark, dir, withSplit = false)
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    grams.as("a")
      .join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("a_id"), col("c").as("ca")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("c").as("cb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("i") / (col("ca") + col("cb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= 0.1)
      .orderBy("a_id", "b_id")
  }

  /** Asymmetric n-gram CONTAINMENT over the same df-capped gram table
    * as [[ngramJaccardPairs]]: C(A→B) = |A∩B| / |A| — the measure that
    * catches a document CONTAINED in another (quotes, aggregator
    * pages, sub-documents) where symmetric Jaccard stays low because
    * the container's extra content dilutes the union. Emits each
    * candidate pair with both directions and keeps pairs where either
    * direction ≥ [[containmentThreshold]] (0.3 — calibrated to this
    * synthetic corpus, whose 1-in-10 verify sample tops out near 0.37;
    * the planted-pair spec certifies the ≥0.9 regime the operator
    * exists for).
    *
    * Scale shape: identical to the Jaccard verifier — gram equi-join
    * blocked by (gram, lang) with the broadcast hot-gram blocklist
    * bounding any gram's fan-out; per-doc set sizes join onto the
    * aggregated pair output, never onto the gram table. Ratios are
    * exact-integer divisions rounded at 6.
    */
  val containmentThreshold = 0.3

  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val grams = dfCappedGrams(spark, dir, withSplit = false)
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    grams.as("a")
      .join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("a_id"), col("c").as("ca")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("c").as("cb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("i").cast("double") / col("ca"), 6).as("c_ab"),
        round(col("i").cast("double") / col("cb"), 6).as("c_ba"))
      .filter(col("c_ab") >= containmentThreshold ||
        col("c_ba") >= containmentThreshold)
      .orderBy("a_id", "b_id")
  }

  /** Edit-distance verify prefix length: candidates are compared on
    * the first [[editPrefixLen]] chars of the lowercased text, so the
    * per-pair cost is a CONSTANT O(editPrefixLen²) regardless of
    * document length — the bounded-verify discipline (an unbounded
    * full-text Levenshtein is quadratic in document length and would
    * dominate the whole pipeline on long docs).
    */
  val editPrefixLen = 80

  /** Verify threshold: ≤ this many edits over the prefix ⇒ duplicate. */
  val editMaxDist = 20

  /** Levenshtein verification of the LSH candidate pairs — the
    * string-edit analog of the Jaccard verify: banding proposes
    * candidates (never all-pairs), each pair is confirmed by the edit
    * distance of its normalized text prefixes. This is the verify a
    * record-linkage / title-dedup pass runs where token-set measures
    * are too coarse (transpositions, small in-word edits).
    *
    * Scale shape (100 TB): two hash joins keyed on doc_id attach the
    * O(1)-width prefix column to the (already banded, sub-corpus)
    * candidate list; the Levenshtein itself is a codegen'd scalar on
    * each joined row. Nothing collects; no window.
    *
    * Cross-engine: the corpus is ASCII and both engines count edits
    * over characters; Spark's INT result is widened to BIGINT to
    * match DuckDB's.
    */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    val prefixes = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        substring(lower(col("text")), 1, editPrefixLen).as("pfx"))
    lshPairsUnsorted(spark, dir)
      .join(prefixes.select(col("doc_id").as("a_id"), col("pfx").as("a_pfx")),
        "a_id")
      .join(prefixes.select(col("doc_id").as("b_id"), col("pfx").as("b_pfx")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_pfx"), col("b_pfx")).cast("long").as("edit_dist"))
      .withColumn("is_dup", col("edit_dist") <= editMaxDist)
      .orderBy("a_id", "b_id")
  }

  /** Bloom-filter probe count and bit-width rule. Positions are FOUR
    * DISJOINT 16-bit slices of the document fingerprint's single md5
    * digest, reduced mod the filter width m — zero extra hashing,
    * deterministic, and replayable in any engine with md5 + substring
    * (the DuckDB oracle rebuilds the exact filter). m is DERIVED from
    * the corpus count as the smallest power of two ≥ 16·n (capped at
    * the 2¹⁶ slice width): with k=4 probes the false-positive rate
    * (1−e^(−kn/m))^k stays < 0.2% at every scale factor instead of
    * saturating once n outgrows a fixed width — so the certified
    * maybe_dup∧¬is_dup rate keeps measuring the filter's real
    * discrimination. Past the slice cap a deployment widens the
    * digest slices; the rule and the oracle CTE stay the same shape.
    */
  val bloomProbes = 4

  /** Slice width cap: positions are 16-bit digest slices, so m ≤ 2¹⁶
    * without re-slicing.
    */
  val bloomBitsCap = 1 << 16

  /** Smallest power of two ≥ 16·n, capped at [[bloomBitsCap]] —
    * mirrored by the oracle's parameterized CTE (integer logic only,
    * no float log2, so both engines agree exactly).
    */
  def bloomBitsFor(n: Long): Long =
    (1 to 16).map(1L << _).find(_ >= 16L * n).getOrElse(bloomBitsCap.toLong)

  /** Historical-corpus predicate shared by the batch and streaming
    * Bloom builders (doc_id % 10 ≠ 0 is "already ingested"; = 0 is
    * the new batch probing it).
    */
  private def bloomCorpusSide: Column = col("doc_id") % 10 =!= 0

  /** One md5 fingerprint per document — the single digest every Bloom
    * position derives from.
    */
  private def bloomFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("f"))

  /** The [[bloomProbes]] probe positions off fingerprint column `f`:
    * position j is the 16-bit integer at hex chars [8j+1, 8j+4] of the
    * digest, reduced into the m-bit filter. ONE definition so the
    * batch gate ([[bloomIncremental]]) and the frozen streaming
    * artifact ([[bloomArtifact]]) can never drift apart on probe count
    * or slice layout.
    */
  private def bloomPositionArray(m: Long): Column =
    array((0 until bloomProbes).map(j =>
      conv(substring(col("f"), 8 * j + 1, 4), 16, 10).cast("long") % m): _*)

  /** Bloom-filter incremental dedup (E14a): the membership-sketch form
    * of [[lshIncrementalPairs]]'s daily-ingest shape, for EXACT dedup
    * against a historical corpus too large to semi-join raw. The
    * existing corpus (doc_id % 10 ≠ 0) inserts [[bloomProbes]] bit
    * positions per document fingerprint; a new batch (doc_id % 10 = 0)
    * is flagged `maybe_dup` when ALL its positions are set. The exact
    * answer (`is_dup`, a fingerprint semi-join) rides alongside as the
    * certification: Bloom guarantees no false negatives
    * (is_dup ⇒ maybe_dup, property-tested), and false positives stay
    * driver-visible as maybe_dup ∧ ¬is_dup rows.
    *
    * Scale shape: the bit-position set is at most m = [[bloomBitsFor]]
    * (corpus count) distinct values, the smallest power of two ≥ 16·n —
    * at 100 TB you broadcast it as an m-bit bitmap
    * (m ≈ 16n stays megabytes at billions of docs) and the
    * probe side is a map-side lookup with ZERO shuffle of the batch;
    * the plan below models exactly that (distinct-bits aggregate →
    * broadcast hash join → per-doc conjunction).
    */
  def bloomIncremental(spark: SparkSession, dir: String): DataFrame = {
    val fp = bloomFingerprints(spark, dir)
    // size the filter to the historical corpus (one count job — the
    // same O(1)-result pass a deployment's filter build starts with)
    val m = bloomBitsFor(fp.filter(bloomCorpusSide).count())
    val pos = fp.select(col("doc_id"), col("f"),
      explode(bloomPositionArray(m)).as("bit"))
    val corpusBits = pos.filter(bloomCorpusSide)
      .select("bit").distinct().withColumn("hit", lit(true))
    val corpusFp = fp.filter(bloomCorpusSide)
      .select("f").distinct().withColumn("dup", lit(true))
    pos.filter(col("doc_id") % 10 === 0)
      .join(broadcast(corpusBits), Seq("bit"), "left")
      .groupBy(col("doc_id"), col("f"))
      .agg(min(coalesce(col("hit"), lit(false))).as("maybe_dup"))
      .join(broadcast(corpusFp), Seq("f"), "left")
      .select(col("doc_id"), col("maybe_dup"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }

  /** The frozen Bloom artifact a STREAMING ingest serves with: filter
    * width m (bits) and the corpus bit set packed into m/64 longs —
    * built exactly like [[bloomIncremental]]'s corpus side (same
    * fingerprints, same 16-bit digest positions), collected once as a
    * broadcast-sized model (m ≈ 16n bits stays megabytes at billions
    * of docs).
    *
    * The packing itself is DISTRIBUTED: each bit becomes (word index,
    * in-word mask) and a map-side-combined `bit_or` per word builds the
    * array on the executors — OR is idempotent, so no `distinct` pass
    * is needed and duplicate probes cost nothing. The only driver-side
    * materialization is the final word rows: at most m/64 longs (the
    * artifact itself), never the O(m) set-bit list.
    */
  def bloomArtifact(spark: SparkSession, dir: String): (Long, Array[Long]) = {
    val fp = bloomFingerprints(spark, dir).filter(bloomCorpusSide).select("f")
    val m = bloomBitsFor(fp.count())
    val wordRows = fp.select(explode(bloomPositionArray(m)).as("bit"))
      .select(expr("bit div 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").as("mask"))
      .groupBy("w").agg(expr("bit_or(mask)").as("word"))
      .collect()
    val words = new Array[Long]((m / 64L).toInt.max(1))
    wordRows.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    (m, words)
  }

  /** k-gram width for [[dupSpans]]: 32 code points ≈ 5-6 words — wide
    * enough that a match is a genuinely repeated passage rather than an
    * incidental shared n-gram (at the [[TextAnalysis.winnowK]] width of
    * 16 the synthetic corpus's small vocabulary marks ~70% of ALL
    * windows as duplicated, which drowns the signal and the plan).
    */
  val dupSpanK = 32

  /** Exact duplicate-SPAN detection (the substring-level dedup of Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better"): every maximal character span covered by length-k
    * windows whose rolling hash occurs ≥ 2 times in the corpus
    * (cross-document or self-repetition) — the cut list a pipeline
    * feeds to span removal, finer-grained than whole-document dedup.
    *
    * Scale shape: one narrow codegen'd corpus pass emits the rolled
    * per-position hashes ([[graft.functions.WindowHashes]], O(n) per
    * doc); duplication is ONE count-over-hash window (single shuffle
    * by hash, never an all-pairs join); span assembly is one
    * `groupBy(doc_id)` collecting each document's flagged positions
    * (one shuffle by doc) and one native call per document
    * ([[graft.functions.DupSpanIslands]]) that folds them into
    * islands, emitted through `inline`. Positions are 1-based code
    * points. A document's spans come out in position order; documents
    * come in no particular order (the registered query sorts them for
    * presentation — a pipeline stage never needs the sort).
    */
  def dupSpans(spark: SparkSession, dir: String,
               k: Int = dupSpanK): DataFrame =
    dupPositions(spark, dir, k)
      .select(col("doc_id"),
        inline(graft.functions.DupSpanIslands.of(col("pos"), k)))

  /** (doc_id, pos): per document, the 1-based code-point positions of
    * its k-gram windows whose hash occurs ≥ 2 times in the corpus;
    * documents without one are absent.
    */
  private def dupPositions(spark: SparkSession, dir: String,
                           k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHashes.of(col("text"), k))
          .as(Seq("p0", "h")))
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c") >= 2)
      .groupBy("doc_id")
      .agg(collect_list((col("p0") + 1).cast("long")).as("pos"))
  }

  /** Duplicate-span REMOVAL — [[dupSpans]]' cut list applied: each
    * document's text with every duplicated span excised (the
    * aggressive variant of Lee et al.'s substring dedup; a keep-first
    * policy is a downstream choice over the same cut list), plus the
    * removed-character count. The document's flagged positions join
    * its text, and one native call per document
    * ([[graft.functions.CutDupSpans]]) builds the same islands as
    * [[dupSpans]] and cuts them by code point — O(text) per document,
    * no per-span rows, no sort and no interpreted lambda. Rows come in
    * no particular order (the registered query sorts by doc_id).
    */
  def spanClean(spark: SparkSession, dir: String,
                k: Int = dupSpanK): DataFrame =
    Tables(spark, dir, "documents")
      .join(dupPositions(spark, dir, k), Seq("doc_id"), "left")
      .withColumn("clean_text",
        when(col("pos").isNull, col("text")).otherwise(
          graft.functions.CutDupSpans.of(col("text"), col("pos"), k)))
      .select(col("doc_id"), col("clean_text"),
        (length(col("text")) - length(col("clean_text"))).cast("long")
          .as("n_chars_removed"))

  /** Jaccard threshold for [[prefixJaccardJoin]] as an exact integer
    * ratio (τ = num/den = 0.6): every similarity cut in the operator is
    * an integer cross-multiplication, so threshold membership never
    * rides float noise on either engine.
    */
  val prefixTauNum = 6
  val prefixTauDen = 10

  /** Word-trigram shingle ARRAYS (doc_id, gs), distinct per doc — the
    * set representation for [[prefixJaccardJoin]], kept in array form
    * so verification can intersect in-row. Word 3-grams, not single
    * words: this corpus's vocabulary is tiny, so word SETS are
    * near-identical across unrelated documents (the same degeneracy
    * that forced [[maxShingleDf]] on the char-gram side), while
    * trigram shingles are sequence-sensitive and high-cardinality —
    * max document frequency stays single-digit. Checkpointed so the
    * consumer's explode never re-evaluates the build (the measured
    * Generate-reeval trap, see [[dfCappedGrams]]).
    *
    * Shingles are carried as 60-BIT MD5 SLICES (first 15 lowercase-hex
    * chars as a positive BIGINT — the engine-wide fingerprint
    * discipline, replayed digit-for-digit by the oracle), not strings:
    * the whole downstream pipeline (df counts, rarity ranks, the
    * prefix self-join, the in-row verify intersect) then works on
    * longs — one narrow scalar pass replaces the interpreted
    * higher-order-lambda build (measured 2.8× on the build alone), the
    * verify stage ships ~4× fewer bytes per candidate pair, and every
    * join/group key compares in one word. Set sizes and intersections
    * equal the string-set values unless two distinct trigrams collide
    * in 60 bits (P ≈ |gs|²·2⁻⁶⁰ per doc, ~10⁻¹³ corpus-wide), and a
    * collision is the SAME collision in both engines — the certified
    * outputs stay bit-identical cross-engine regardless.
    */
  private def trigramArrays(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = "0123456789abcdef".toCharArray
        it.map { case (id, text) =>
          // split semantics pinned to Spark SQL's split(trim(text), ' ')
          // (limit -1: trailing empties kept) so the oracle's
          // string_split sees the identical word list. NOT
          // String.trim: Java trim strips every char <= U+0020 (tabs,
          // newlines) while SQL trim() strips ' ' only — a doc with a
          // leading tab must tokenize identically on both engines, so
          // trim exactly the ' ' characters by hand.
          var lo = 0
          var hi = text.length
          while (lo < hi && text.charAt(lo) == ' ') lo += 1
          while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
          val ws = text.substring(lo, hi).split(" ", -1)
          val set = new java.util.LinkedHashSet[Long]()
          var i = 0
          while (i + 2 < ws.length) {
            val tk = ws(i) + " " + ws(i + 1) + " " + ws(i + 2)
            md.reset()
            val d = md.digest(tk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // first 15 lowercase-hex chars of md5 as a 60-bit positive
            // long — the engine-wide md5-slice fingerprint discipline,
            // replayed digit-for-digit by the oracle's strpos chain
            var h = 0L
            var p = 0
            while (p < 15) {
              val b = d(p / 2) & 0xff
              val c = if (p % 2 == 0) hex(b >>> 4) else hex(b & 0xf)
              h = h * 16 + java.lang.Character.digit(c, 16)
              p += 1
            }
            set.add(h)
            i += 1
          }
          val gh = new Array[Long](set.size)
          val itr = set.iterator()
          var j = 0
          while (itr.hasNext) { gh(j) = itr.next(); j += 1 }
          (id, gh.toSeq)
        }
      }.toDF("doc_id", "gs")
      .localCheckpoint()
  }

  /** EXACT set-similarity join by prefix filtering (the PPJoin family —
    * Xiao et al., WWW'08; public algorithm): every document pair with
    * word-trigram Jaccard ≥ τ, found WITHOUT the all-pairs join and
    * WITHOUT the MinHash path's false-negative probability — the
    * certification twin of [[lshCandidatePairs]] a release runs when
    * the dedup sweep must be provably complete at a threshold.
    *
    * Candidate generation: every document sorts its own shingles by
    * the canonical rarity order (document frequency ascending, shingle
    * ascending — a per-document window, NEVER a global sort: the order
    * is a pure function of the broadcast-joinable DF table, so no
    * global rank materializes anywhere) and keeps only its p = s −
    * ⌈τ·s⌉ + 1 rarest shingles as its PREFIX. If J(A,B) ≥ τ, the
    * rarity-minimal common shingle provably sits inside both prefixes
    * (≥ ⌈τ·max(|A|, |B|)⌉ common shingles must follow it in both
    * sorted orders), so the prefix-prefix equi-join misses nothing; it
    * joins ~(1−τ) of the shingle table against itself instead of all
    * of it, with the size filter τ·|A| ≤ |B| ≤ |A|/τ (integer
    * cross-multiplied) applied inside the join, along with PPJoin's
    * POSITIONAL filter: a match at sorted positions (pa, pb) bounds
    * the overlap by 1 + min(s_a−pa, s_b−pb), and J ≥ τ needs overlap
    * ≥ τ(s_a+s_b)/(1+τ), so pairs whose only shared prefix shingles
    * sit too deep are dropped before verification (measured 2.8×
    * candidate cut at sf0.1: 193k → 69k, output preserved exactly —
    * the rarity-minimal common shingle always passes the bound).
    * Verification then intersects the two gram arrays in-row for
    * candidate pairs only — never corpus×corpus.
    *
    * Output: qualifying pairs with exact set sizes, intersection, and
    * Jaccard (one division of exact integers, round 6; the τ cut
    * itself is the integer predicate 10·i ≥ 6·(sa+sb−i)).
    */
  /** Memo of the materialized exact-pair table — the winnowPairs
    * discipline: BOTH the dedup_prefix_join row and [[blockingEval]]
    * consume it (the truth set costs ~8 s at sf0.1; the eval must not
    * pay it twice in one session).
    */
  def prefixJaccardJoin(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(graft.DataVersion.sessionKey(spark, dir, "documents", "prefixjoin"))(
      computePrefixJaccardJoin(spark, dir).localCheckpoint())

  private[graft] def computePrefixJaccardJoin(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arrays = trigramArrays(spark, dir)
    // set size rides the explode (array length — no per-doc aggregate)
    val grams = arrays.select(col("doc_id"),
      size(col("gs")).cast("long").as("s"), explode(col("gs")).as("tk"))
    // df via an AGGREGATE, not a count-window over tk: the window
    // form fuses a shuffle away at test scale but must buffer each
    // tk group whole inside one task — a stop-word trigram's group at
    // 100 TB is a straggler/spill hotspot. The aggregate partials
    // map-side (the shuffle ships one (tk,count) per partition per
    // shingle, never the rows), and the join back on tk reuses the
    // same hash partitioning; AQE skew-split covers the join's own
    // hot keys.
    val dfTab = grams.groupBy("tk").agg(count(lit(1)).as("df"))
    val prefix = grams
      .join(dfTab, "tk")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tk"))))
      .filter(col("pos") <=
        col("s") - expr(s"($prefixTauNum * s + ${prefixTauDen - 1}) div $prefixTauDen") + 1)
      .select(col("doc_id"), col("tk"), col("s"), col("pos"))
      .localCheckpoint() // the (1−τ)-fraction prefix table
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tk") === col("b.tk") && col("a.doc_id") < col("b.doc_id") &&
          lit(prefixTauDen) * col("b.s") >= lit(prefixTauNum) * col("a.s") &&
          lit(prefixTauDen) * col("a.s") >= lit(prefixTauNum) * col("b.s") &&
          // positional filter: (1+τ)·(1 + min suffix room) ≥ τ·(sa+sb)
          lit(prefixTauDen + prefixTauNum) *
            (lit(1) + least(col("a.s") - col("a.pos"),
              col("b.s") - col("b.pos"))) >=
            lit(prefixTauNum) * (col("a.s") + col("b.s")))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.s").as("sa"), col("b.s").as("sb"))
      .distinct()
    // verification IN-ROW: each candidate pair pulls both gram ARRAYS
    // (two equi-joins — same shuffled volume as re-joining the exploded
    // gram table, since a doc ships once per candidate pair either
    // way) and intersects them inside codegen — no 20×-fan-out
    // pair×gram frame, no aggregation shuffle
    val union = col("sa") + col("sb") - col("i")
    cand
      .join(arrays.select(col("doc_id").as("a_id"), col("gs").as("gsa")), "a_id")
      .join(arrays.select(col("doc_id").as("b_id"), col("gs").as("gsb")), "b_id")
      .select(col("a_id"), col("b_id"), col("sa"), col("sb"),
        size(array_intersect(col("gsa"), col("gsb"))).cast("long").as("i"))
      .filter(lit(prefixTauDen) * col("i") >= lit(prefixTauNum) * union)
      .select(col("a_id"), col("b_id"), col("sa"), col("sb"), col("i"),
        round(col("i").cast("double") / union.cast("double"), 6).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Blocking-quality evaluation (the Christen record-linkage report —
    * "Data Matching", 2012, public methodology): measures the
    * PRODUCTION blocker ([[lshWideCandidatePairs]], the 16×4 banded
    * wide-MinHash index) against the provably-complete truth set
    * ([[prefixJaccardJoin]], exact τ-Jaccard pairs) — one row with
    * n_docs, n_truth, n_candidates, n_caught, pairs completeness
    * (caught/truth — the empirical recall of the candidate generator;
    * truth pairs the banding never co-buckets are dedup misses), and
    * reduction ratio (1 − candidates/(n·(n−1)/2) — the fraction of the
    * all-pairs work the blocker saved, the number that justifies
    * blocking at all). The two operators deliberately run DIFFERENT
    * representations (char-shingle MinHash bands vs word-trigram
    * Jaccard) — that is the real-world shape of the question: the
    * blocker you can afford vs the truth you certify against.
    *
    * Shape (100 TB): both inputs are certified sub-quadratic operators
    * (banding / prefix-filter); the eval itself is one semi-join of
    * the two pair sets plus three 1-row counts — pair-set-sized, never
    * corpus-sized. Counts exact; the two ratios are single round-6
    * IEEE chains (the all-pairs denominator n(n−1)/2 enters in double
    * — it only normalizes a report ratio, nothing exact divides by
    * it).
    */
  def blockingEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = prefixJaccardJoin(spark, dir).select("a_id", "b_id")
      .localCheckpoint() // feeds its count and the caught semi-join
    val cand = lshWideCandidatePairs(spark, dir).select("a_id", "b_id")
      .localCheckpoint()
    val nDocs = Tables(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val caught = truth.join(cand, Seq("a_id", "b_id"), "left_semi")
    val nD = col("n_docs").cast("double")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
      .crossJoin(broadcast(nDocs))
      .select(col("n_docs"), col("n_truth"), col("n_candidates"),
        col("n_caught"),
        when(col("n_truth") > 0,
          round(col("n_caught").cast("double") /
            col("n_truth").cast("double"), 6)).as("pairs_completeness"),
        when(col("n_docs") > 1,
          round(lit(1.0) - lit(2.0) * col("n_candidates").cast("double") /
            (nD * (nD - lit(1.0))), 6)).as("reduction_ratio"))
  }

  /** The band geometries [[blockingEvalSweep]] grades — every (b, r)
    * splitting of the k=64 wide signature the production blocker could
    * run at: 8×8 (strict, collision threshold (1/8)^(1/8) ≈ 0.77),
    * the shipped 16×4 (≈ 0.50), and 32×2 (lenient, ≈ 0.18).
    */
  val blockingSweepGeometries: Seq[(Int, Int)] =
    Seq((8, 8), (16, 4), (32, 2))

  /** Candidate pairs from an already-built wide-signature frame under
    * an arbitrary (bands × rowsPerBand) split — the parameterized core
    * of [[lshWideCandidatePairs]]'s banding, shared by the sweep so
    * every geometry bands the SAME signatures.
    */
  private def lshPairsForGeometry(sigs: DataFrame, numBands: Int,
                                  rowsPerBand: Int): DataFrame =
    bandPairs(bandTable(sigs.select(col("doc_id") +: (0 until numBands)
      .map(wideBandKey(_, rowsPerBand)): _*), numBands))

  /** Band-geometry SWEEP of the blocking-quality report — the
    * recall/cost lever the LSH index actually tunes, driver-visible
    * the way `ann_ivf_recall_np1` makes nprobe visible: one
    * [[blockingEval]] row per geometry in [[blockingSweepGeometries]],
    * all banding the SAME k=64 signature scan (checkpointed once) and
    * graded against the SAME memoized exact truth set. Trading bands
    * for rows moves the collision threshold (1/b)^(1/r) — more bands
    * of fewer rows catches lower-Jaccard pairs (completeness up,
    * reduction ratio down); the sweep shows both directions around the
    * shipped 16×4.
    *
    * The threshold column is computed once here and embedded as the
    * same double literal in the oracle (the constants discipline).
    * Shape: signature scan once; per geometry one band equi-join + one
    * pair-set semi-join + three 1-row counts — never corpus-sized.
    */
  def blockingEvalSweep(spark: SparkSession, dir: String): DataFrame = {
    val truth = prefixJaccardJoin(spark, dir).select("a_id", "b_id")
      .localCheckpoint()
    val sigs = wideSignaturesUnsorted(spark, dir).localCheckpoint()
    val nDocs = Tables(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val nD = col("n_docs").cast("double")
    // ONE band join at the FINEST geometry, coarser memberships DERIVED
    // (round-19, guide §2.2/§2.4 — the r18 shape ran one self-join +
    // distinct + three count subtrees PER geometry): every sweep
    // geometry splits the same k = 64 signature, so a coarse band of
    // b bands is exactly fineB/b consecutive fine bands — a pair
    // collides on coarse band i iff it agrees on all its slices iff it
    // collides on EVERY fine band inside i (band keys are md5 over
    // '_'-joined slices: distinct values can't alias, the same
    // injectivity the per-geometry join form already rests on). So one
    // fine-geometry self-join + a per-pair collision BITMASK (bit_or
    // of 1 << band — idempotent, no distinct pass) replaces all three
    // joins, and each geometry's candidate/caught count is a
    // conditional count over the one mask table.
    val (fineB, fineR) = blockingSweepGeometries.maxBy(_._1)
    require(blockingSweepGeometries.forall { case (b, r) =>
      b * r == fineB * fineR && fineB % b == 0 &&
        java.lang.Integer.bitCount(fineB / b) == 1 },
      "sweep geometries must be power-of-two splits of one signature")
    val masks = bandCollisions(bandTable(sigs.select(col("doc_id") +:
        (0 until fineB).map(wideBandKey(_, fineR)): _*), fineB))
      .groupBy("a_id", "b_id")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), band))").as("mask"))
      .localCheckpoint() // feeds the candidate AND caught counts
    // pair ∈ geometry b ⟺ some aligned group of fineB/b consecutive
    // mask bits is all-ones: AND the mask with its own shifts (log₂
    // group steps), then test the group-start bit positions
    def member(b: Int): Column = {
      val g = fineB / b
      var m = col("mask")
      var s = 1
      while (s < g) { m = m.bitwiseAND(shiftright(m, s)); s <<= 1 }
      var sel = 0L
      for (i <- 0 until b) sel |= 1L << (g * i)
      m.bitwiseAND(lit(sel)) =!= lit(0L)
    }
    def perGeom(tag: String): Seq[Column] =
      blockingSweepGeometries.map { case (b, _) =>
        count(when(member(b), lit(1))).as(s"${tag}_$b") }
    val candCounts = masks.agg(perGeom("cand").head, perGeom("cand").tail: _*)
    val caughtCounts = truth.join(masks, Seq("a_id", "b_id"))
      .agg(perGeom("caught").head, perGeom("caught").tail: _*)
    val base = truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(candCounts)
      .crossJoin(caughtCounts)
      .crossJoin(broadcast(nDocs))
      .localCheckpoint() // one row; three presentation selects read it
    blockingSweepGeometries.map { case (b, r) =>
      base.select(lit(b.toLong).as("n_bands"),
        lit(r.toLong).as("rows_per_band"),
        lit(bandThreshold(b, r)).as("t_threshold"),
        col("n_docs"), col("n_truth"),
        col(s"cand_$b").as("n_candidates"),
        col(s"caught_$b").as("n_caught"),
        when(col("n_truth") > 0,
          round(col(s"caught_$b").cast("double") /
            col("n_truth").cast("double"), 6)).as("pairs_completeness"),
        when(col("n_docs") > 1,
          round(lit(1.0) - lit(2.0) * col(s"cand_$b").cast("double") /
            (nD * (nD - lit(1.0))), 6)).as("reduction_ratio"))
    }.reduce(_ unionByName _).orderBy("n_bands")
  }

  /** (1/b)^(1/r) rounded at 4 — the sweep's threshold literal, one
    * value per geometry, identical on both engines by construction.
    */
  def bandThreshold(b: Int, r: Int): Double =
    BigDecimal(math.pow(1.0 / b, 1.0 / r))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** MinHash ESTIMATOR honesty — the audit a deployment runs before
    * trusting signature agreement as a similarity score: for every
    * wide-LSH candidate pair, ĵ = (#agreeing signature coordinates)/k
    * (the unbiased MinHash estimate, k = [[wideNumHashes]]) next to
    * the EXACT Jaccard of the very sets the signature sketches — the
    * DISTINCT 8-char shingle sets — and |ĵ − j| per pair. The rel_err
    * column every sketch row carries (HLL, CMS, HDR), applied to the
    * dedup family's own estimator.
    *
    * Float discipline: n_agree is a fixed-order integer sum of k
    * coordinate equalities; ĵ and j are each ONE division of exact
    * integers, rounded at 6; the error is the |difference| of those
    * two rounded values, rounded at 6 — nesting stated identically in
    * the oracle.
    *
    * Shape (100 TB): pairs come from the certified banding (never
    * all-pairs); the signature join is pair-sized; the exact side
    * tokenizes ONLY docs appearing in pairs (semi-join pushdown) and
    * intersects shingles through the pair list — work is
    * O(pairs · doc length), corpus-independent.
    */
  def minhashEstimatorAudit(spark: SparkSession, dir: String): DataFrame = {
    val sigs = wideSignaturesUnsorted(spark, dir).localCheckpoint()
    val cand = lshPairsForGeometry(sigs, wideNumBands, wideRowsPerBand)
      .localCheckpoint()
    val agree = (0 until wideNumHashes)
      .map(j => when(col(s"sa.h$j") === col(s"sb.h$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand
      .join(sigs.as("sa"), col("sa.doc_id") === col("a_id"))
      .join(sigs.as("sb"), col("sb.doc_id") === col("b_id"))
      .select(col("a_id"), col("b_id"), agree.as("n_agree"))
    val docsInPairs = cand.select(col("a_id").as("doc_id"))
      .unionByName(cand.select(col("b_id").as("doc_id"))).distinct()
    // spread: the shingle explode + distinct partials are the exact
    // Jaccard side's kernel — on a one-split scan the semi-join
    // broadcasts and the whole explode/distinct fuses into ONE task
    // (r19 stage profile: a 1.33 s single-task checkpoint stage, the
    // row's hottest; guide §2.5)
    val grams = Tables.spread(spark, dir, "documents")
      .join(docsInPairs, Seq("doc_id"), "left_semi")
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text) - 7), i -> substring(text, i, 8))"))
        .as("g"))
      .distinct()
      .localCheckpoint() // pair-doc shingle sets: sizes + intersection
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val inter = cand
      .join(grams.select(col("doc_id").as("a_id"), col("g")), "a_id")
      .join(grams.select(col("doc_id").as("b_id"), col("g")),
        Seq("b_id", "g"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
    val estJ = round(col("n_agree").cast("double") /
      lit(wideNumHashes.toDouble), 6)
    val exactJ = round(coalesce(col("i"), lit(0L)).cast("double") /
      (col("ca") + col("cb") - coalesce(col("i"), lit(0L))).cast("double"), 6)
    est.join(inter, Seq("a_id", "b_id"), "left")
      .join(sizes.select(col("doc_id").as("a_id"), col("c").as("ca")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("c").as("cb")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_agree"),
        estJ.as("est_jaccard"), exactJ.as("exact_jaccard"),
        round(abs(estJ - exactJ), 6).as("abs_err"))
      .orderBy("a_id", "b_id")
  }
}
