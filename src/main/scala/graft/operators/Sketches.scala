package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-size sketch structures for corpus statistics — the
  * skew-proof companions to the exact aggregations: state is O(sketch
  * size), never O(cardinality), so a single hot key or an unbounded
  * vocabulary cannot blow up the aggregation. (The HLL++ distinct
  * sketch lives in [[Analytics.approxUserCounts]]; this file holds
  * frequency sketches.)
  *
  * Hash-parity design: buckets come from md5 (the hash primitive
  * Spark and DuckDB share bit-for-bit), so the sketch — not just its
  * summary — is replayed exactly by the driver's oracle.
  */
object Sketches {

  /** Count-min depth (independent hash rows) and width (buckets per
    * row). Width 16 against a ~31-token synthetic vocabulary forces
    * real collisions, so the overestimate-then-min mechanics are
    * exercised, not vacuous; error bound is est − true ≤ εN with
    * ε = e/w at depth-many e⁻¹ confidences.
    */
  val cmsDepth = 4
  val cmsWidth = 16

  /** Hash row j: first 32 bits of md5(token ⧺ "#j"), mod width. */
  private def cmsBucket(j: Int, tok: Column): Column =
    conv(substring(md5(concat(tok, lit(s"#$j")).cast("binary")), 1, 8), 16, 10)
      .cast("long") % cmsWidth

  /** Count-min sketch over corpus tokens, read back against exact
    * counts: (token, exact_n, cms_est) with est ≥ exact always and
    * est = min over rows of the token's cell.
    *
    * Shape: the corpus reduces once to (token, exact_n); the sketch
    * cells aggregate FROM that reduction (Σ exact_n per cell — by
    * linearity identical to incrementing per occurrence) and come
    * back as a broadcast of d·w cells. In the pure-streaming form the
    * same cells aggregate directly off the token stream with fixed
    * O(d·w) state and map-side combining — that form needs no vocab
    * table at all; it's built here from the reduction only because
    * the comparison output wants exact_n anyway.
    */
  def cmsTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val vocab = cmsVocab(spark, dir)
    val hashed = cmsHashed(vocab)
    val cells = hashed.groupBy("row_j", "bucket")
      .agg(sum(col("exact_n")).as("cnt"))
    cmsReadOff(hashed, cells)
  }

  /** The full-corpus (token, exact_n) reduction the comparison output
    * wants — tiny (vocabulary-sized), checkpointed once per caller.
    */
  private def cmsVocab(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(explode(split(trim(col("text")), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("exact_n"))
      .localCheckpoint() // tiny; feeds cells + estimates

  /** Vocab × depth probe rows: each token's (row_j, bucket) addresses. */
  private def cmsHashed(vocab: DataFrame): DataFrame =
    (0 until cmsDepth).map(j =>
        vocab.select(col("token"), col("exact_n"), lit(j).as("row_j"),
          cmsBucket(j, col("token")).as("bucket")))
      .reduce(_ unionByName _)

  /** The estimate read-off shared by the whole-corpus, incremental,
    * and store-served rows: probe the (broadcast) cell table at each
    * token's d addresses, min over rows — identical read-off, cell
    * provenance is what varies (the [[hdrQuantiles]] discipline).
    */
  private def cmsReadOff(hashed: DataFrame, cells: DataFrame): DataFrame =
    hashed.join(broadcast(cells), Seq("row_j", "bucket"))
      .groupBy("token", "exact_n")
      .agg(min(col("cnt")).as("cms_est"))
      .select("token", "exact_n", "cms_est")
      .orderBy("token")

  /** The base/delta document slices the incremental CMS rows share —
    * the corpus-wide % 10 ingest-batch convention ([[graft.operators
    * .Dedup]]'s bloomIncremental split).
    */
  private[graft] def cmsBaseSide: Column = col("doc_id") % 10 =!= 0
  private[graft] def cmsDeltaSide: Column = col("doc_id") % 10 === 0

  /** Per-slice (token, n) reduction — ONE scan of the slice into a
    * map-side-combined aggregate, checkpointed (vocabulary-sized) so
    * the cell build and the incremental row's derived vocab both read
    * the materialization, never the corpus.
    */
  private def sliceTokenCounts(spark: SparkSession, dir: String,
                               pred: Column): DataFrame =
    Tables(spark, dir, "documents").filter(pred)
      .select(explode(split(trim(col("text")), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .localCheckpoint()

  /** CMS cells over one document slice — what a nightly job persists
    * via [[graft.ModelStore.cmsCells]]. Built from the slice's
    * (token, n) reduction (guide §2.3 "aggregate before you shuffle"):
    * by sketch linearity, Σ n per cell over the reduction is
    * bit-identical to incrementing per token occurrence
    * ([[streamingCmsCells]]'s form — the equality the linearity spec
    * pins), while the d per-token md5 probes run over the VOCABULARY,
    * not the corpus (the r18 shape unioned d = 4 full slice scans —
    * 8 corpus scans for the incremental row's two slices).
    */
  private[graft] def cmsCellsOf(spark: SparkSession, dir: String,
                                pred: Column): DataFrame =
    cellsFromCounts(sliceTokenCounts(spark, dir, pred))

  /** (row_j, bucket, cnt) cells off a (token, n) reduction: one
    * posexplode over the d bucket addresses per token — d md5s per
    * VOCAB entry in one pass, no per-row union fan-out.
    */
  private def cellsFromCounts(tok: DataFrame): DataFrame =
    tok.select(col("n"),
        posexplode(array((0 until cmsDepth).map(j =>
          cmsBucket(j, col("token"))): _*)))
      .toDF("n", "row_j", "bucket")
      .groupBy("row_j", "bucket")
      .agg(sum(col("n")).as("cnt"))

  /** Incremental CMS serving — the frequency-sketch twin of
    * [[hdrQuantilesIncremental]]: BASE cells (the persisted nightly
    * sketch) plus DELTA cells (the new ingest batch) merged by KEYED
    * SUM, then the identical probe read-off. The CMS cell table is
    * LINEAR (cell-wise sum is exactly the sketch of the union), so
    * the merged read-off is BIT-IDENTICAL to the whole-corpus row —
    * the DuckDB oracle replays the FULL recompute, driver-certifying
    * merge == recompute end-to-end; at 100 TB the nightly job touches
    * ONLY the delta slice's tokens.
    */
  def cmsTokenCountsIncremental(spark: SparkSession,
                                dir: String): DataFrame = {
    // ONE scan per slice: the checkpointed (token, n) reductions feed
    // both the slice cells AND the read-off's whole-corpus vocabulary
    // (base + delta counts re-summed per token — exact integer merge,
    // identical to a third full-corpus reduction the r18 shape paid)
    val base = sliceTokenCounts(spark, dir, cmsBaseSide)
    val delta = sliceTokenCounts(spark, dir, cmsDeltaSide)
    val merged = cellsFromCounts(base)
      .unionByName(cellsFromCounts(delta))
      .groupBy("row_j", "bucket").agg(sum(col("cnt")).as("cnt"))
    val vocab = base.unionByName(delta)
      .groupBy("token").agg(sum(col("n")).as("exact_n"))
      .localCheckpoint() // tiny; feeds the d probe rows
    cmsReadOff(cmsHashed(vocab), merged)
  }

  /** STORE-SERVED incremental CMS — the literal nightly shape: reload
    * the persisted base cells (stamp-validated), sketch ONLY the delta
    * slice's tokens, merge by keyed sum, read off. Bit-equal to the
    * whole-corpus [[cmsTokenCounts]] by linearity (spec-pinned); the
    * base slice is never re-SKETCHED — note the read-off itself still
    * scans the full corpus (the probe vocabulary and the exact-count
    * honesty column are whole-corpus by definition); the incremental
    * saving is confined to the cell-building side.
    */
  def cmsTokenCountsServed(spark: SparkSession, dir: String,
                           storePath: String): DataFrame = {
    val base = graft.ModelStore.load(spark, storePath,
      graft.ModelStore.cmsCells("base"), dir)
    val merged = base.unionByName(cmsCellsOf(spark, dir, cmsDeltaSide))
      .groupBy("row_j", "bucket").agg(sum(col("cnt")).as("cnt"))
    cmsReadOff(cmsHashed(cmsVocab(spark, dir)), merged)
  }

  /** The pure-streaming CMS half: the d×w cells as a streaming
    * aggregate over arriving tokens — O(d·w) state forever (64
    * groups, map-side combined per micro-batch), update mode emits
    * the cells touched each batch. This is the form that needs NO
    * vocab table at all — the batch query above builds cells from
    * the (token, exact_n) reduction only because its comparison
    * output wants exact_n anyway; per-cell equality of the two forms
    * on the same tokens is spec-pinned (sketch linearity).
    */
  def streamingCmsCells(tokens: DataFrame): DataFrame =
    (0 until cmsDepth).map(j =>
        tokens.select(lit(j).as("row_j"),
          cmsBucket(j, col("token")).as("bucket")))
      .reduce(_ unionByName _)
      .groupBy("row_j", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Quantile targets for [[histogramQuantiles]] as exact fractions. */
  val hqTargets: Seq[(Long, Long)] = Seq(1L -> 2L, 9L -> 10L, 99L -> 100L)

  /** Mergeable histogram-quantile sketch over order totalprice — the
    * third sketch family next to CMS (frequency) and HLL (distinct):
    * prices in integer cents land in power-of-two buckets (the
    * binary-string-length identity — no float log), the ~25-row
    * histogram is the MERGEABLE state (bucket-wise SUM is the union),
    * and each target quantile reads off the first bucket whose
    * cumulative count reaches ⌈q·N⌉ — EVERY output column is an exact
    * integer, so the sketch and its read-off are replayed bit-exactly
    * by the oracle. The true quantile provably lies in [lo, hi] of
    * the reported bucket (spec-pinned against the exact percentile);
    * relative error is bounded by the 2× bucket width.
    *
    * Scale shape: one map pass into a ~25-group map-side-combined
    * aggregate; cumulative counts via a triangular join over the
    * broadcast histogram (buckets are a constant, never a global
    * window); targets are a literal cross join.
    */
  def histogramQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.SparkSession
    val spark0 = spark
    import spark0.implicits._
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val hist = Tables(spark, dir, "orders")
      .select((length(bin(cents)) - 1).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .localCheckpoint() // ~25 rows; feeds total + cumulative + readoff
    val total = hist.agg(sum(col("n")).as("n_total"))
    val cum = hist.as("h")
      .join(broadcast(hist.select(col("bucket").as("b2"), col("n").as("n2"))),
        col("b2") <= col("h.bucket"))
      .groupBy(col("h.bucket"))
      .agg(sum(col("n2")).as("cum_le"))
    val targets = hqTargets.toDF("q_num", "q_den")
    hist.join(cum, "bucket")
      .crossJoin(broadcast(total))
      .crossJoin(broadcast(targets))
      // target rank ⌈q·N⌉ as exact integer arithmetic
      .withColumn("t_rank",
        expr("(q_num * n_total + q_den - 1) div q_den"))
      .filter(col("cum_le") >= col("t_rank"))
      .groupBy(col("q_num"), col("q_den"), col("t_rank"), col("n_total"))
      .agg(min(col("bucket")).as("bucket"))
      .join(hist.select(col("bucket"), col("n").as("bucket_n")), "bucket")
      .join(cum, "bucket")
      .select(col("q_num"), col("q_den"), col("n_total"), col("t_rank"),
        col("bucket"),
        pow(lit(2.0), col("bucket")).cast("long").as("lo_cents"),
        (pow(lit(2.0), col("bucket") + 1).cast("long") - 1L).as("hi_cents"),
        col("bucket_n"), col("cum_le"))
      .orderBy("q_den", "q_num")
  }

  /** Sub-bucket bits for [[hdrQuantiles]]: each power-of-two octave
    * splits into 2^5 = 32 linear sub-buckets, bounding the relative
    * quantile error at 1/32 ≈ 3.1% (vs the plain histogram row's 2×
    * bucket width).
    */
  val hdrSubBits = 5

  /** Log-linear (HDR-histogram / DDSketch-family) bucket cells over an
    * integer value column: e = ⌊log₂ v⌋ from the binary-string-length
    * identity (never a float log on data), sub = the next
    * [[hdrSubBits]] bits, key = e·2^s + sub (monotone in v). The cell
    * table IS the sketch state and it is LINEAR: bucket-wise sum is
    * exactly the sketch of the union — the merge-equals-recompute
    * property is an identity, not an approximation (spec-pinned).
    *
    * Why this and not a t-digest (the round-12 verdict's candidate):
    * Dunning's t-digest clusters centroids greedily in RANK space, so
    * its state depends on construction/merge ORDER and its merges are
    * approximate BY DESIGN — no deterministic oracle can replay it
    * bit-exactly, and merge == recompute is false for it. The HDR
    * log-linear sketch is the production quantile sketch in the same
    * mergeable role (HdrHistogram, DDSketch) whose guarantee —
    * bounded RELATIVE error at every quantile — is t-digest's selling
    * point for tail latencies, with a bucket rule that is a pure
    * function of the value. Contract: v ≥ 1 (same sub-unit exclusion
    * as the Benford row).
    */
  private[graft] def hdrCells(values: DataFrame,
                              valueCol: String): DataFrame =
    hdrBuckets(values.select(col(valueCol).as("v")), "v")
      .groupBy(col("e"), col("sub"))
      .agg(count(lit(1)).as("n"))
      .withColumn("key", col("e") * (1L << hdrSubBits) + col("sub"))

  /** The per-row (e, sub) log-linear bucket projection — shared by the
    * batch cell build above and the streaming windowed cell aggregate
    * ([[graft.streaming.StreamingStats.hdrWindowCells]]), so the two
    * halves bucket identically by construction. Appends `e` and `sub`,
    * preserving every other column (the streaming caller keeps its
    * event-time column for the window group).
    */
  private[graft] def hdrBuckets(values: DataFrame,
                                valueCol: String): DataFrame = {
    val s = hdrSubBits
    val v = col(valueCol)
    values
      .withColumn("e", (length(bin(v)) - 1).cast("long"))
      .withColumn("g", greatest(col("e") - s, lit(0L)))
      .withColumn("sub",
        (expr(s"$valueCol div CAST(power(2, g) AS BIGINT)") -
          pow(lit(2.0), col("e") - col("g")).cast("long")))
      .drop("g")
  }

  /** Relative-error-bounded mergeable quantile sketch over order
    * totalprice — [[histogramQuantiles]]'s production refinement: same
    * integer-cents domain, same exact-rank read-off, but each
    * power-of-two octave splits into 2^[[hdrSubBits]] linear
    * sub-buckets so the reported [lo, hi] bracket is ≤ 1/32 wide
    * relative to its own magnitude at every target. EVERY output
    * column is an exact integer — sketch state and read-off replay
    * bit-exactly in the oracle.
    *
    * Scale shape: one map pass into a bounded-cardinality map-side-
    * combined aggregate (≤ 64 octaves × 32 sub-buckets in principle,
    * ~a few hundred live cells for any money column); cumulative
    * counts via a triangular join over the broadcast cell table
    * (constant-bounded, never a global window); targets are a literal
    * cross join. MERGE at 100 TB: per-shard cell tables sum bucket-
    * wise — a keyed union that is exactly the whole-corpus sketch
    * (spec-pinned identity), so shards/days/regions aggregate without
    * ever re-scanning values.
    */
  def hdrQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    hdrReadOff(spark, hdrCells(
      Tables(spark, dir, "orders").select(cents.as("v"))
        .filter(col("v") >= 1L), "v"))
  }

  /** The exact ⌈q·N⌉ rank read-off over an HDR cell table — shared by
    * the whole-corpus row and the incremental (merged base+delta)
    * row, which is what makes the merge contract driver-certifiable:
    * identical read-off, different cell provenance, same oracle.
    */
  private def hdrReadOff(spark: SparkSession, cellsIn: DataFrame): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val s = hdrSubBits
    val cells = cellsIn
      .localCheckpoint() // bounded cell table: total + cum + read-off
    val total = cells.agg(sum(col("n")).as("n_total"))
    val cum = cells.as("h")
      .join(broadcast(cells.select(col("key").as("k2"), col("n").as("n2"))),
        col("k2") <= col("h.key"))
      .groupBy(col("h.key"))
      .agg(sum(col("n2")).as("cum_le"))
    val targets = hqTargets.toDF("q_num", "q_den")
    cells.join(cum, "key")
      .crossJoin(broadcast(total))
      .crossJoin(broadcast(targets))
      .withColumn("t_rank",
        expr("(q_num * n_total + q_den - 1) div q_den"))
      .filter(col("cum_le") >= col("t_rank"))
      .groupBy(col("q_num"), col("q_den"), col("t_rank"), col("n_total"))
      .agg(min(col("key")).as("key"))
      .join(cells, "key")
      .join(cum, "key")
      .withColumn("g", greatest(col("e") - s, lit(0L)))
      .select(col("q_num"), col("q_den"), col("n_total"), col("t_rank"),
        col("e").as("bucket_e"), col("sub").as("bucket_sub"),
        ((pow(lit(2.0), col("e") - col("g")).cast("long") + col("sub")) *
          pow(lit(2.0), col("g")).cast("long")).as("lo_cents"),
        ((pow(lit(2.0), col("e") - col("g")).cast("long") + col("sub") + 1L) *
          pow(lit(2.0), col("g")).cast("long") - 1L).as("hi_cents"),
        col("n").as("bucket_n"), col("cum_le"))
      .orderBy("q_den", "q_num")
  }

  /** GROUPED HDR quantiles — per-customer-segment totalprice brackets,
    * the per-service latency-dashboard shape ("p99 per endpoint"): the
    * same log-linear cells keyed additionally by segment, so state is
    * O(segments · cells) regardless of order volume, and every
    * segment's read-off is the exact ⌈q·N_seg⌉ rank arithmetic of
    * [[hdrQuantiles]]. The dimension join is a broadcast (customer
    * segment is model-sized relative to orders at any scale).
    *
    * Shape (100 TB): one broadcast-joined map pass into a
    * (segments × cells)-bounded map-side-combined aggregate; per-group
    * cumulative counts via a segment-equi triangular join over the
    * broadcast cell table — never a window over order rows; targets a
    * literal cross join. Merges like the flat sketch: per-shard
    * (segment, key) cells sum.
    */
  def hdrQuantilesBySegment(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val s = hdrSubBits
    val seg = broadcast(Tables(spark, dir, "customer")
      .select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("segment")))
    val vals = Tables(spark, dir, "orders")
      .join(seg, "o_custkey")
      .select(col("segment"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      .filter(col("v") >= 1L)
    val cells = hdrBuckets(vals, "v")
      .groupBy("segment", "e", "sub").agg(count(lit(1)).as("n"))
      .withColumn("key", col("e") * (1L << s) + col("sub"))
      .localCheckpoint() // segments × cells: totals + cum + read-off
    val total = cells.groupBy("segment").agg(sum(col("n")).as("n_total"))
    val cum = cells.as("h")
      .join(broadcast(cells.select(col("segment").as("s2"),
          col("key").as("k2"), col("n").as("n2"))),
        col("s2") === col("h.segment") && col("k2") <= col("h.key"))
      .groupBy(col("h.segment").as("segment"), col("h.key").as("key"))
      .agg(sum(col("n2")).as("cum_le"))
    val targets = hqTargets.toDF("q_num", "q_den")
    cells.join(cum, Seq("segment", "key"))
      .join(broadcast(total), "segment")
      .crossJoin(broadcast(targets))
      .withColumn("t_rank",
        expr("(q_num * n_total + q_den - 1) div q_den"))
      .filter(col("cum_le") >= col("t_rank"))
      .groupBy(col("segment"), col("q_num"), col("q_den"), col("t_rank"),
        col("n_total"))
      .agg(min(col("key")).as("key"))
      .join(cells, Seq("segment", "key"))
      .join(cum, Seq("segment", "key"))
      .withColumn("g", greatest(col("e") - s, lit(0L)))
      .select(col("segment"), col("q_num"), col("q_den"), col("n_total"),
        col("t_rank"), col("e").as("bucket_e"), col("sub").as("bucket_sub"),
        ((pow(lit(2.0), col("e") - col("g")).cast("long") + col("sub")) *
          pow(lit(2.0), col("g")).cast("long")).as("lo_cents"),
        ((pow(lit(2.0), col("e") - col("g")).cast("long") + col("sub") + 1L) *
          pow(lit(2.0), col("g")).cast("long") - 1L).as("hi_cents"),
        col("n").as("bucket_n"), col("cum_le"))
      .orderBy("segment", "q_den", "q_num")
  }

  /** Incremental HDR serving — the pattern the sketch's linearity
    * exists for: BASE cells (the persisted nightly sketch a
    * [[graft.ModelStore]]-style store holds) plus DELTA cells (the
    * day's new slice — orderkey % 10 == 0, the bloomIncremental split
    * convention) merged by KEYED SUM, then the identical read-off.
    * Because the cell table is linear, the merged read-off is
    * BIT-IDENTICAL to the whole-corpus row — the DuckDB oracle replays
    * the FULL recompute, so the driver hash-certifies the
    * merge-equals-recompute identity end-to-end (not only in a spec),
    * and at 100 TB the nightly job touches ONLY the delta slice.
    */
  def hdrQuantilesIncremental(spark: SparkSession, dir: String): DataFrame = {
    val merged = hdrCellsOf(spark, dir, hdrBaseSide)
      .unionByName(hdrCellsOf(spark, dir, hdrDeltaSide))
      .groupBy("e", "sub", "key").agg(sum(col("n")).as("n"))
    hdrReadOff(spark, merged)
  }

  /** The base/delta slice predicates [[hdrQuantilesIncremental]] and
    * the store-served form share (the bloomIncremental convention:
    * % 10 == 0 is the "new batch").
    */
  private[graft] def hdrBaseSide: Column = col("o_orderkey") % 10 =!= 0
  private[graft] def hdrDeltaSide: Column = col("o_orderkey") % 10 === 0

  /** HDR cells over one slice of orders — what a nightly job persists
    * via [[graft.ModelStore.hdrCells]].
    */
  private[graft] def hdrCellsOf(spark: SparkSession, dir: String,
                                pred: Column): DataFrame = {
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    hdrCells(Tables(spark, dir, "orders").filter(pred)
      .select(cents.as("v")).filter(col("v") >= 1L), "v")
  }

  /** STORE-SERVED incremental quantiles — the literal nightly shape:
    * reload the persisted base cells (stamp-validated), sketch ONLY
    * the delta slice, merge by keyed sum, read off. Bit-equal to the
    * whole-corpus [[hdrQuantiles]] by linearity (spec-pinned); the
    * corpus's base side is never re-scanned.
    */
  def hdrQuantilesServed(spark: SparkSession, dir: String,
                         storePath: String): DataFrame = {
    val base = graft.ModelStore.load(spark, storePath,
      graft.ModelStore.hdrCells("base"), dir)
    val merged = base.unionByName(hdrCellsOf(spark, dir, hdrDeltaSide))
      .groupBy("e", "sub", "key").agg(sum(col("n")).as("n"))
    hdrReadOff(spark, merged)
  }

  /** HLL register count m = 2^6 and the per-key word width that
    * remains of the 32-bit md5 slice after the register index.
    */
  val hllRegisters = 64
  val hllWordBits = 26

  /** α₆₄ — the HLL bias constant for m = 64 (Flajolet et al. 2007),
    * stated as the same literal on both engines.
    */
  val hllAlpha = 0.709

  /** 32-bit hash of the key: first 8 hex chars of md5 of the key's
    * decimal string — the engine-shared hash primitive ([[cmsBucket]]
    * discipline), so the SKETCH STATE itself is replayed bit-exactly
    * by the oracle, not just its summary.
    */
  private[operators] def hllHash(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")

  /** ρ(w): index of the lowest set bit of the [[hllWordBits]]-bit word
    * plus one (the FM/HLL geometric observable), [[hllWordBits]]+1
    * when w = 0 — a generated integer CASE chain, no float log
    * anywhere, identical in the oracle's generated SQL.
    */
  private[operators] def rhoExpr(w: Column): Column =
    ((hllWordBits - 1) to 0 by -1).foldLeft(lit(hllWordBits + 1): Column) {
      (acc, p) =>
        when(shiftright(w, p).bitwiseAND(lit(1L)) === 1L, lit(p + 1))
          .otherwise(acc)
    }.cast("long")

  /** The ρ CASE chain as oracle SQL over a word column expression. */
  def rhoSql(w: String): String =
    (0 until hllWordBits).map(p =>
      s"WHEN ($w >> $p) & 1 = 1 THEN ${p + 1}")
      .mkString("CASE ", " ", s" ELSE ${hllWordBits + 1} END")

  /** The MERGEABLE sketch state: per register, the max ρ seen over the
    * keyed column — 64 rows whatever the cardinality. This is the
    * frame a 1000-executor run computes per shard and max-merges
    * (register-wise MAX is the HLL union), so it is emitted as data,
    * not hidden inside an estimate: the hash check certifies the
    * sketch bits an engine would ship between shards. Registers no
    * key landed in appear with ρ = 0 via the 64-row literal spine.
    *
    * Shape: one map pass (md5 + integer CASE inside codegen) into a
    * 64-group map-side-combined max — O(m) state, skew-free by
    * construction.
    */
  def hllRegistersOf(keys: DataFrame, keyCol: String): DataFrame = {
    val spark = keys.sparkSession
    val h = hllHash(col(keyCol))
    val hit = keys
      .select(shiftright(h, hllWordBits).as("reg"),
        rhoExpr(h.bitwiseAND(lit((1L << hllWordBits) - 1))).as("rho"))
      .groupBy("reg").agg(max(col("rho")).as("max_rho"))
    spark.range(0, hllRegisters.toLong).select(col("id").as("reg"))
      .join(broadcast(hit), Seq("reg"), "left")
      .select(col("reg"), coalesce(col("max_rho"), lit(0L)).as("max_rho"))
  }

  /** Driver query: the customer-key HLL register table over orders. */
  def hllRegistersQuery(spark: SparkSession, dir: String): DataFrame =
    hllRegistersOf(Tables(spark, dir, "orders"), "o_custkey")
      .orderBy("reg")

  /** The pure-streaming half: register maxes as a streaming aggregate
    * over arriving keys — O(m) state forever (64 groups, map-side
    * combined), update mode emits the registers touched each batch.
    * No 64-row spine here (a static-range join has no streaming plan);
    * a register the stream never hit is simply absent = ρ 0, exactly
    * what the batch spine backfills. Per-register equality with the
    * batch sketch on the same keys is spec-pinned — the
    * train-batch/serve-stream discipline applied to sketch state.
    */
  def streamingRegisters(keys: DataFrame, keyCol: String): DataFrame = {
    val h = hllHash(col(keyCol))
    keys
      .select(shiftright(h, hllWordBits).as("reg"),
        rhoExpr(h.bitwiseAND(lit((1L << hllWordBits) - 1))).as("rho"))
      .groupBy("reg").agg(max(col("rho")).as("max_rho"))
  }

  /** The GROUPED sketch form — distinct users per day, the shape a
    * warehouse actually serves ("daily uniques" over billions of
    * events): registers keyed by (day, register), so state is
    * O(days·m) regardless of user cardinality, and any day range
    * rolls up by register-wise MAX before one read-off (the union
    * property the flat sketch spec proves). Absent registers are ρ=0
    * by construction (present rows always have ρ ≥ 1), so the
    * estimate adds (m − present) whole units to the harmonic sum —
    * no per-day spine join needed. Exact per-day distinct counts ride
    * alongside for the honesty column; estimate and rel_err are each
    * one rounded expression over exact dyadic/integer inputs.
    */
  def hllDailyUsers(spark: SparkSession, dir: String): DataFrame =
    hllDailyReadOff(spark, dir, hllDailyRegsOf(spark, dir, lit(true)))

  /** Day-keyed events with the epoch-day bucket — the shared input of
    * the daily register builds and the exact honesty side.
    */
  private def hllDailyEvents(spark: SparkSession, dir: String,
                             pred: Column): DataFrame =
    Tables(spark, dir, "events").filter(pred)
      .select(expr(s"unix_micros(ts) div ${86400L * 1000 * 1000}L").as("day"),
        col("user_id"))

  /** (day, reg, max_rho) register table over one event slice — what a
    * nightly job persists via [[graft.ModelStore.hllDailyRegs]].
    */
  private[graft] def hllDailyRegsOf(spark: SparkSession, dir: String,
                                    pred: Column): DataFrame = {
    val h = hllHash(col("user_id"))
    hllDailyEvents(spark, dir, pred)
      .select(col("day"), shiftright(h, hllWordBits).as("reg"),
        rhoExpr(h.bitwiseAND(lit((1L << hllWordBits) - 1))).as("rho"))
      .groupBy("day", "reg").agg(max(col("rho")).as("max_rho"))
  }

  /** The per-day estimate read-off over a (day, reg, max_rho) register
    * table — shared by the whole-corpus, incremental, and store-served
    * rows ([[hdrQuantiles]]'s provenance discipline). The exact
    * honesty column always recomputes over the FULL corpus: it is the
    * audit the estimate is graded against, not sketch state.
    */
  private def hllDailyReadOff(spark: SparkSession, dir: String,
                              regs: DataFrame): DataFrame = {
    val m = hllRegisters
    val sket = regs.groupBy("day").agg(
      count(lit(1)).as("n_present"),
      sum(pow(lit(2.0), -col("max_rho"))).as("harm_present"))
    val exact = hllDailyEvents(spark, dir, lit(true)).groupBy("day")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val mD = lit(m.toDouble)
    val harm = col("harm_present") + (mD - col("n_present").cast("double"))
    val zeros = lit(m.toLong) - col("n_present")
    val raw = lit(hllAlpha) * mD * mD / harm
    val est = round(
      when(raw <= lit(2.5) * mD && zeros > 0L,
        mD * log(mD / zeros.cast("double"))).otherwise(raw), 4)
    sket.join(exact, "day")
      .select(col("day"), col("n_exact"), zeros.as("n_zero_regs"),
        est.as("est_distinct"),
        when(col("n_exact") > 0L,
          round(abs(est - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4)).as("rel_err"))
      .orderBy("day")
  }

  /** The base/delta event slices the incremental HLL rows share
    * (event_id % 10 == 0 is the "new batch" — the bloomIncremental
    * split convention applied to the events table).
    */
  private[graft] def hllBaseSide: Column = col("event_id") % 10 =!= 0
  private[graft] def hllDeltaSide: Column = col("event_id") % 10 === 0

  /** Incremental HLL daily-uniques serving — the distinct-sketch twin
    * of [[hdrQuantilesIncremental]]: BASE registers (the persisted
    * nightly sketch) plus DELTA registers (the new event batch) merged
    * by register-wise MAX — the HLL union — then the identical
    * read-off. MAX-merge is exactly the sketch of the union, so the
    * merged read-off is BIT-IDENTICAL to the whole-corpus row; the
    * DuckDB oracle replays the FULL recompute, driver-certifying
    * merge == recompute end-to-end. At 100 TB the nightly job hashes
    * ONLY the delta slice — state is O(days·m) regardless of user
    * cardinality.
    */
  def hllDailyIncremental(spark: SparkSession, dir: String): DataFrame = {
    val merged = hllDailyRegsOf(spark, dir, hllBaseSide)
      .unionByName(hllDailyRegsOf(spark, dir, hllDeltaSide))
      .groupBy("day", "reg").agg(max(col("max_rho")).as("max_rho"))
    hllDailyReadOff(spark, dir, merged)
  }

  /** STORE-SERVED incremental daily uniques — the literal nightly
    * shape: reload the persisted base registers (stamp-validated),
    * sketch ONLY the delta slice, MAX-merge, read off. Bit-equal to
    * the whole-corpus [[hllDailyUsers]] by the union property
    * (spec-pinned); the base slice is never re-SKETCHED — note the
    * read-off's exact-count honesty column still computes whole-corpus
    * exact distincts by definition; the incremental saving is confined
    * to the register-building side.
    */
  def hllDailyServed(spark: SparkSession, dir: String,
                     storePath: String): DataFrame = {
    val base = graft.ModelStore.load(spark, storePath,
      graft.ModelStore.hllDailyRegs("base"), dir)
    val merged = base.unionByName(hllDailyRegsOf(spark, dir, hllDeltaSide))
      .groupBy("day", "reg").agg(max(col("max_rho")).as("max_rho"))
    hllDailyReadOff(spark, dir, merged)
  }

  /** Running cumulative distinct users by day — the windowed payoff of
    * MERGEABLE sketch state: "uniques to date" needs the union of all
    * prior daily sketches, which for HLL is just register-wise MAX
    * over the day prefix. The daily register table is D×m rows (time
    * dimension × 64 — model-sized, not corpus-sized), so the prefix
    * maximum runs as a triangular join over that tiny frame (the
    * `ltvTriangle` discipline — constant at any corpus scale, never a
    * user-level window). The exact side reduces users to their
    * first-seen day (one map-side-combined reduction), buckets to D
    * per-day counts, and prefix-sums those D rows the same triangular
    * way — no users×days blowup. Estimate arithmetic is identical to
    * [[hllDailyUsers]]: dyadic harmonic sums are order-exact, one
    * rounded division (or ln) per day.
    */
  def hllRunningUsers(spark: SparkSession, dir: String): DataFrame = {
    val m = hllRegisters
    val ev = Tables(spark, dir, "events")
      .select(expr(s"unix_micros(ts) div ${86400L * 1000 * 1000}L").as("day"),
        col("user_id"))
    val h = hllHash(col("user_id"))
    val mx = ev
      .select(col("day"), shiftright(h, hllWordBits).as("reg"),
        rhoExpr(h.bitwiseAND(lit((1L << hllWordBits) - 1))).as("rho"))
      .groupBy("day", "reg").agg(max(col("rho")).as("max_rho"))
      .localCheckpoint() // D×m rows feeding the spine and the prefix max
    val days = mx.select(col("day").as("d")).distinct()
    val cum = broadcast(days).join(mx, col("day") <= col("d"))
      .groupBy(col("d"), col("reg")).agg(max(col("max_rho")).as("cum_rho"))
    val sket = cum.groupBy("d").agg(
      count(lit(1)).as("n_present"),
      sum(pow(lit(2.0), -col("cum_rho"))).as("harm_present"))
    val nNew = ev.groupBy("user_id").agg(min(col("day")).as("f"))
      .groupBy("f").agg(count(lit(1)).as("n_new"))
    val exact = broadcast(days).join(nNew, col("f") <= col("d"))
      .groupBy("d").agg(sum(col("n_new")).as("n_exact"))
    val mD = lit(m.toDouble)
    val harm = col("harm_present") + (mD - col("n_present").cast("double"))
    val zeros = lit(m.toLong) - col("n_present")
    val raw = lit(hllAlpha) * mD * mD / harm
    val est = round(
      when(raw <= lit(2.5) * mD && zeros > 0L,
        mD * log(mD / zeros.cast("double"))).otherwise(raw), 4)
    sket.join(exact, "d")
      .select(col("d").as("day"), col("n_exact"), zeros.as("n_zero_regs"),
        est.as("est_distinct"),
        when(col("n_exact") > 0L,
          round(abs(est - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4)).as("rel_err"))
      .orderBy("day")
  }

  /** The estimate read off the registers, next to the exact distinct
    * count it approximates: harmonic-mean estimate αm²/Σ2^(−ρⱼ) with
    * the standard small-range linear-counting correction (m·ln(m/V)
    * when the raw estimate ≤ 2.5m and V > 0 registers are empty).
    * Σ2^(−ρⱼ) is a sum of 64 dyadic terms ≥ 2^(−27) — EXACT in double
    * under any summation order — so the only cross-engine float risk
    * is one division (or one `ln`), rounded at 4. The exact side is
    * one count-distinct; rel_err is the audit number a deployment
    * reads before trusting the sketch at 10⁹ keys where the exact
    * count is unaffordable.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val regs = hllRegistersOf(Tables(spark, dir, "orders"), "o_custkey")
    val exact = Tables(spark, dir, "orders")
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    estimateOf(regs).crossJoin(exact)
      .select(lit(hllRegisters.toLong).as("m"), col("n_exact"),
        col("zeros").as("n_zero_regs"), col("est").as("est_distinct"),
        // NULL (not an ANSI 0/0) on an empty key table
        when(col("n_exact") > 0L,
          round(abs(col("est") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 4)).as("rel_err"))
  }

  /** The estimator read-off shared by every flat-sketch consumer
    * ([[hllDistinct]], [[hllCohortOverlap]]): one row `(est, zeros)` off
    * a 64-row register frame — αm²/Σ2^(−ρ) with the linear-counting
    * small-range correction, rounded at 4 (the sum of dyadic terms is
    * order-exact; the single division/ln is the only float).
    */
  private def estimateOf(regs: DataFrame): DataFrame = {
    val m = lit(hllRegisters.toDouble)
    val sket = regs.agg(
      sum(pow(lit(2.0), -col("max_rho"))).as("harm"),
      sum(when(col("max_rho") === 0L, 1L).otherwise(0L)).as("zeros"))
    val raw = lit(hllAlpha) * m * m / col("harm")
    sket.select(col("zeros"),
      round(when(raw <= lit(2.5) * m && col("zeros") > 0L,
        m * log(m / col("zeros").cast("double"))).otherwise(raw), 4).as("est"))
  }

  /** HLL SET ALGEBRA — cohort overlap by inclusion–exclusion: how many
    * customers place BOTH urgent and low-priority orders, estimated
    * purely from three mergeable sketches (|A∩B| ≈ est(A) + est(B) −
    * est(A∪B), where the union sketch is just the register-wise MAX of
    * the two — the only set operation HLL supports natively). This is
    * the estimator a deployment uses to size audience intersections
    * across billions of keys without ever co-shuffling the raw key
    * sets; the exact INTERSECT rides alongside as the honesty column,
    * with rel_err. (The priority cohorts are the partial-overlap pair
    * on this corpus — event-type cohorts all saturate to the full user
    * set, which would make the algebra vacuous.)
    *
    * Inclusion–exclusion inherits the union sketch's absolute error on
    * a (possibly much smaller) intersection, so the estimate is
    * floored at 0 and its relative error is honest-by-construction in
    * the output. Arithmetic: the three read-offs are each rounded at 4
    * ([[estimateOf]]); the combination is one further round-4
    * expression over those identical inputs.
    *
    * Shape: two filtered register builds + one 64-row merge join —
    * three map-side-combined O(m) aggregates; the exact side is one
    * INTERSECT (distinct-equi-join) emitted as a single count.
    */
  /** KMV/Theta sketch size — k minimum hash values retained per set.
    * RSE of the distinct estimate ≈ 1/√(k−2) ≈ 6.3%; the intersection
    * inherits the sampling error at θ = min(θ_A, θ_B), which is the
    * BOUNDED-error property inclusion–exclusion lacks (E101's HLL
    * overlap subtracts three estimates, compounding absolute error on
    * a possibly tiny intersection — its honesty column shows it).
    */
  val thetaK = 256

  /** KMV hash bits: 60 (15 md5 hex chars) so the k-th order statistic
    * is collision-free at corpus scale (32 bits would collide at ~1%
    * on 10⁴ keys; 60 bits at ~10⁻¹⁰). Hash space M = 2⁶⁰.
    */
  val thetaHashBits = 60
  private val thetaM = 1L << thetaHashBits

  /** 60-bit key hash — md5 of the decimal string, the engine-shared
    * primitive ([[hllHash]] discipline) so the SKETCH STATE (the k
    * hash values themselves) replays bit-exactly in the oracle.
    */
  private[operators] def thetaHash(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** The KMV sketch frame: the min(k, n) smallest distinct 60-bit key
    * hashes — MERGEABLE state: the k smallest of (kmv(A) ∪ kmv(B)) ARE
    * the k smallest of A ∪ B (any member of the union's bottom-k is in
    * its own set's bottom-k), so shard sketches union by re-minning —
    * the property ThetaSketchSpec pins and the ModelStore serve path
    * uses. Shape: one narrow hash projection, one distinct, one
    * TakeOrderedAndProject(k) — per-partition partial top-k then an
    * O(k·partitions) merge, never a global sort; O(k) state shipped
    * per shard at any corpus size.
    */
  def thetaKmvOf(keys: DataFrame, keyCol: String): DataFrame =
    keys.select(thetaHash(col(keyCol)).as("h"))
      .distinct().orderBy("h").limit(thetaK)

  /** One-row (n, theta) read-off of a KMV sketch frame: θ is the k-th
    * smallest hash when the sketch is full, else the whole hash space
    * M (exact mode — the sketch holds EVERY key hash). The uniform
    * estimator |{h < θ}| / (θ/M) then degrades gracefully: full
    * sketch → (k−1)·M/θ, exact mode → the plain count.
    */
  private def thetaOf(kmv: DataFrame): DataFrame =
    kmv.agg(count(lit(1)).as("n"), max(col("h")).as("mx"))
      .select(col("n"),
        when(col("n") < thetaK, lit(thetaM)).otherwise(col("mx"))
          .as("theta"))

  /** θ-normalized round-4 estimate column over (cnt, theta). */
  private def thetaEst(cnt: Column, theta: Column): Column =
    round(cnt.cast("double") * lit(thetaM.toDouble) /
      theta.cast("double"), 4)

  /** THETA/KMV SET ALGEBRA (`q_theta_overlap`) — the same cohort
    * intersection as [[hllCohortOverlap]], estimated with BOUNDED
    * error: both sketches are cut to the common threshold
    * θ = min(θ_A, θ_B), under which each retained hash is a uniform
    * sample of its set at rate θ/M — so the common hashes below θ are
    * a sample of A ∩ B at that same rate, and |A∩B| ≈ |sample|·M/θ
    * with RSE ~ 1/√|sample| (the Theta-sketch intersection, Dasgupta
    * et al. 2016). No subtraction of estimates anywhere: the error is
    * the sample's own, not the union's absolute error landed on a
    * small intersection. The union estimate rides along off the
    * re-minned merged sketch (the KMV union), and the exact INTERSECT
    * + rel_err honesty columns match the E101 discipline.
    *
    * Determinism: hashes, thetas, and sample counts are exact
    * integers (the oracle replays the identical md5-derived order
    * statistics); each estimate is ONE division of exact integers
    * cast to double, round-4 — the certified-parity shape.
    *
    * Shape: two distinct+top-k sketch builds (map-side partial
    * top-k), then every join is over ≤ k-row frames — bounded by the
    * CONSTANT k, not by a stats estimate, so the broadcasts are
    * structurally safe; the exact side is one INTERSECT count.
    */
  def thetaOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_custkey"))
    val a = ord.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    val b = ord.filter(col("o_orderpriority") === "5-LOW")
      .select("o_custkey")
    val kmvA = thetaKmvOf(a, "o_custkey").localCheckpoint()
    val kmvB = thetaKmvOf(b, "o_custkey").localCheckpoint()
    val tA = thetaOf(kmvA).select(col("n").as("n_a"), col("theta").as("ta"))
    val tB = thetaOf(kmvB).select(col("n").as("n_b"), col("theta").as("tb"))
    // the KMV union: re-min the merged sketch frames
    val kmvU = kmvA.unionByName(kmvB).distinct().orderBy("h").limit(thetaK)
    val tU = thetaOf(kmvU).select(col("theta").as("tu"))
    val nU = kmvU.crossJoin(tU)
      .filter(col("h") < col("tu"))
      .agg(count(lit(1)).as("cu"))
    // intersection sample: common hashes under the COMMON threshold
    val nI = kmvA.join(kmvB, Seq("h"))
      .crossJoin(tA.select(col("ta"))).crossJoin(tB.select(col("tb")))
      .filter(col("h") < least(col("ta"), col("tb")))
      .agg(count(lit(1)).as("ci"))
    val cntA = kmvA.crossJoin(tA.select(col("ta").as("t")))
      .filter(col("h") < col("t")).agg(count(lit(1)).as("ca"))
    val cntB = kmvB.crossJoin(tB.select(col("tb").as("t")))
      .filter(col("h") < col("t")).agg(count(lit(1)).as("cb"))
    val exact = a.intersect(b).agg(count(lit(1)).as("n_exact_both"))
    val estBoth = thetaEst(col("ci"), least(col("ta"), col("tb")))
    tA.crossJoin(tB).crossJoin(tU).crossJoin(nU).crossJoin(nI)
      .crossJoin(cntA).crossJoin(cntB).crossJoin(exact)
      .select(lit(thetaK.toLong).as("k"),
        least(col("ta"), col("tb")).as("theta"),
        thetaEst(col("ca"), col("ta")).as("est_a"),
        thetaEst(col("cb"), col("tb")).as("est_b"),
        thetaEst(col("cu"), col("tu")).as("est_union"),
        estBoth.as("est_both"), col("n_exact_both"),
        when(col("n_exact_both") > 0L,
          round(abs(estBoth - col("n_exact_both").cast("double")) /
            col("n_exact_both").cast("double"), 4)).as("rel_err"))
  }

  /** Driver query certifying the KMV sketch STATE itself
    * (`q_theta_frame`) — the Theta sibling of [[hllRegistersQuery]]'s
    * discipline: the k smallest hashes of the urgent cohort ARE the
    * frame a 1000-executor run ships between shards and re-mins, so
    * they are emitted as data and hash-checked, not hidden inside an
    * estimate. One row per retained hash, ordered.
    */
  def thetaFrameQuery(spark: SparkSession, dir: String): DataFrame =
    thetaKmvOf(Tables(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey"), "o_custkey")
      .orderBy("h")

  /** THETA SET DIFFERENCE (`q_theta_diff`) — completes the E156
    * algebra (union, intersection, now A∖B and B∖A): below the common
    * threshold θ = min(θ_A, θ_B) BOTH sketches are complete samples of
    * their sets at rate θ/M, so `{h ∈ kmv(A) : h < θ ∧ h ∉ kmv(B)}`
    * is exactly a rate-θ/M sample of A∖B (membership against kmv(B)
    * is EXACT under θ — every B-hash below θ ≤ θ_B is retained in
    * kmv(B)), and |A∖B| ≈ |sample|·M/θ with the sample's own error —
    * the same bounded-error property as the intersection, where
    * est(A) − est(A∩B) would compound two estimates' errors. Exact
    * EXCEPT counts + per-side rel_err ride along as honesty columns;
    * same cohorts, hashes, and round-4 single-division discipline as
    * [[thetaOverlap]].
    */
  def thetaDiff(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_custkey"))
    val a = ord.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    val b = ord.filter(col("o_orderpriority") === "5-LOW")
      .select("o_custkey")
    val kmvA = thetaKmvOf(a, "o_custkey").localCheckpoint()
    val kmvB = thetaKmvOf(b, "o_custkey").localCheckpoint()
    val tA = thetaOf(kmvA).select(col("theta").as("ta"))
    val tB = thetaOf(kmvB).select(col("theta").as("tb"))
    val th = least(col("ta"), col("tb"))
    def onlySample(x: DataFrame, y: DataFrame) =
      x.join(y, Seq("h"), "left_anti")
        .crossJoin(tA).crossJoin(tB).filter(col("h") < th)
        .agg(count(lit(1)).as("c"))
    val cA = onlySample(kmvA, kmvB).select(col("c").as("c_only_a"))
    val cB = onlySample(kmvB, kmvA).select(col("c").as("c_only_b"))
    val exA = a.distinct().exceptAll(b.distinct())
      .agg(count(lit(1)).as("n_exact_only_a"))
    val exB = b.distinct().exceptAll(a.distinct())
      .agg(count(lit(1)).as("n_exact_only_b"))
    def relErr(est: Column, exact: Column): Column =
      when(exact > 0L,
        round(abs(est - exact.cast("double")) / exact.cast("double"), 4))
    val estA = thetaEst(col("c_only_a"), th)
    val estB = thetaEst(col("c_only_b"), th)
    tA.crossJoin(tB).crossJoin(cA).crossJoin(cB).crossJoin(exA).crossJoin(exB)
      .select(lit(thetaK.toLong).as("k"), th.as("theta"),
        estA.as("est_only_a"), estB.as("est_only_b"),
        col("n_exact_only_a"), col("n_exact_only_b"),
        relErr(estA, col("n_exact_only_a")).as("rel_err_a"),
        relErr(estB, col("n_exact_only_b")).as("rel_err_b"))
  }

  /** Streaming KMV sketch — the Theta family's streaming half,
    * completing the batch/incremental/streaming triple the HLL/CMS/HDR
    * families already carry: the k smallest distinct key hashes as
    * O(k) MANAGED STATE (`mapGroupsWithState` on a single group —
    * KMV's bottom-k is not a groupable aggregate like HLL's
    * per-register max, so the state is the capped sorted array
    * itself), emitting the current (h, theta) sketch frame each
    * batch in update mode. The update is the KMV union (re-min of
    * state ∪ batch hashes), so after any prefix of the stream the
    * emitted frame equals the BATCH sketch of the keys seen so far —
    * the merge == recompute property ThetaSketchSpec pins across
    * waves (the train-batch/serve-stream discipline applied to
    * sketch state). State is bounded at k·8 bytes forever; a
    * production shard would run one group per shard key and re-min
    * shard frames at read time (the mergeability the batch spec
    * certifies).
    */
  def streamingThetaSketch(keys: DataFrame, keyCol: String): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    keys.select(thetaHash(col(keyCol)).as("h")).as[Long]
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (_, hs, state) =>
          val prev = state.getOption.getOrElse(Array.empty[Long])
          val merged = (prev.iterator ++ hs).toArray.distinct.sorted
            .take(thetaK)
          state.update(merged)
          val theta = if (merged.length < thetaK) thetaM else merged.last
          merged.iterator.map(h => (h, theta))
      }
      .toDF("h", "theta")
  }

  def hllCohortOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_custkey"))
    val a = ord.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    val b = ord.filter(col("o_orderpriority") === "5-LOW")
      .select("o_custkey")
    val regsA = hllRegistersOf(a, "o_custkey")
    val regsB = hllRegistersOf(b, "o_custkey")
    val regsU = regsA.select(col("reg"), col("max_rho").as("ra"))
      .join(regsB.select(col("reg"), col("max_rho").as("rb")), "reg")
      .select(col("reg"), greatest(col("ra"), col("rb")).as("max_rho"))
    val exact = a.intersect(b).agg(count(lit(1)).as("n_exact_both"))
    val estBoth = round(
      greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0d)), 4)
    estimateOf(regsA).select(col("est").as("est_a"))
      .crossJoin(estimateOf(regsB).select(col("est").as("est_b")))
      .crossJoin(estimateOf(regsU).select(col("est").as("est_union")))
      .crossJoin(exact)
      .select(col("est_a"), col("est_b"), col("est_union"),
        estBoth.as("est_both"), col("n_exact_both"),
        when(col("n_exact_both") > 0L,
          round(abs(estBoth - col("n_exact_both").cast("double")) /
            col("n_exact_both").cast("double"), 4)).as("rel_err"))
  }
}
