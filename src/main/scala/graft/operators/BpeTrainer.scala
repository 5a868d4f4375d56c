package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge training — tokenizer
  * induction over the corpus, the standard subword-vocabulary
  * construction (Sennrich et al.) every LLM data pipeline runs before
  * tokenizing.
  *
  * Shape: the corpus reduces ONCE to weighted word types (the only
  * corpus-sized pass — at web scale a trillion-token corpus collapses
  * to millions of word types, the 1000× reduction that makes training
  * affordable). What happens next is gated on the type count, the same
  * discipline as [[Dedup.clusters]]' union-find fast path:
  *
  *   - types ≤ [[driverTypeLimit]]: the type table is a model-sized
  *     artifact, so training runs driver-side with the classic
  *     incremental pair index + lazy max-heap ([[trainDriver]]) —
  *     O(corpus) once, then O(adjustments·log P) for ALL merges, zero
  *     per-merge Spark jobs. This is the shape production tokenizer
  *     trainers use: the cluster's job is the count pass and the
  *     corpus-wide application, not the merge loop.
  *   - above the gate: batched distributed rounds — each round one
  *     map-side-combined pair count, a top-K collect (the only driver
  *     transfer, bounded), and ONE merge-application pass for every
  *     provably-serial-faithful merge in the batch ([[selectBatch]]),
  *     so the job count is O(rounds) with rounds ≪ merges.
  *
  * Both paths are bit-identical to the one-merge-at-a-time serial
  * reference (`BpeSpec` properties) and to the recursive-CTE oracle.
  *
  * Determinism: best pair = max count, ties to lexicographically
  * smallest (left, right) — replay-stable, no RNG.
  */
object BpeTrainer {

  /** Merge budget for the registered query. The synthetic corpus has a
    * 31-word vocabulary, so training exhausts all repeating pairs well
    * before the budget — the point of the large budget is that reaching
    * it costs O(1) Spark jobs on the driver path and O(rounds) on the
    * distributed path, never one job per merge.
    */
  val defaultMerges = 256

  /** Word-type count below which training runs driver-side. 2M types
    * at ~10 symbols each is a few hundred MB of driver state — the
    * same model-artifact scale as [[Similarity]]'s k-means centroids —
    * and covers any real web corpus's post-count vocabulary. Above it,
    * the batched distributed loop runs: the fast path is an
    * optimization, never a scale ceiling. The gate costs no job of its
    * own: the type count is observed by the job that checkpoints the
    * type table ([[wordTypes]]), so the fast path is that job plus one
    * `collect`.
    */
  val driverTypeLimit = 2000000L

  /** Pair rows fetched per distributed round (a distributed TopK, not
    * a full collect): the driver sees at most this many (left, right,
    * n) triples regardless of corpus size.
    */
  private val topK = 512

  /** Most merges accepted per distributed round — bounds the size of
    * the literal merge lookup compiled into the one-pass application
    * expression.
    */
  private val maxBatch = 64

  /** Memo key of one trained-tokenizer part (`merges` rows or `seg`
    * frame), shared by the trainer and [[installModel]]. A deployment
    * trains ONCE and serves every consumer (merge table, segmentation,
    * encoding, vocab export) from the stored model. Session-scoped
    * (beyond-gate segmentations are checkpointed DataFrames); the
    * merge budget and gate are in the key, so the spec-forced
    * distributed path never shares an entry with the driver path.
    */
  private def modelKey(spark: SparkSession, dir: String, part: String,
      merges: Int, smallTypeLimit: Long): String =
    graft.DataVersion.sessionKey(spark, dir, "documents",
      s"$part#$merges#$smallTypeLimit")

  /** Pass 1, the only corpus-sized job: whitespace word types with
    * counts, split into character symbols + the end-of-word marker,
    * and the number of types (observed by the same job).
    * Checkpointed — every consumer (driver collect or iterative
    * rounds) re-reads the materialized table, never the corpus.
    */
  private def wordTypes(spark: SparkSession, dir: String): (DataFrame, Long) =
    Ranks.checkpointCounted(Tables(spark, dir, "documents")
      .select(explode(split(trim(col("text")), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("w"),
        concat(split(col("w"), ""), array(lit("</w>"))).as("sym"), col("n")))

  private def collectTypes(vocab: DataFrame): Array[(Array[String], Long)] =
    vocab.select("sym", "n").collect()
      .map(r => (r.getSeq[String](0).toArray, r.getLong(1)))

  /** Serial BPE over a driver-resident type table with the standard
    * incremental structures: a pair→count map, a pair→containing-words
    * index, and a lazy max-heap (stale entries discarded on pop by
    * re-checking the live count). Each merge touches only the words
    * that contain its pair, subtracting their old adjacencies and
    * adding the new ones — O(affected symbols · log pairs) per merge,
    * not a full rescan, which is what makes a 32k-merge vocabulary
    * tractable at millions of types.
    *
    * Returns the learned merge rows and the final per-type symbol
    * arrays (aligned with the input), so segmentation-consumers reuse
    * the training state instead of re-applying merges.
    */
  private[operators] def trainDriver(
      types: Array[(Array[String], Long)],
      merges: Int): (Seq[(Long, String, String, String, Long)], Array[Array[String]]) = {
    import scala.collection.mutable
    val syms = types.map(_._1)
    val cnt = types.map(_._2)
    val pairN = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def scanPairs(i: Int)(f: ((String, String)) => Unit): Unit = {
      val s = syms(i); var j = 0
      while (j + 1 < s.length) { f((s(j), s(j + 1))); j += 1 }
    }
    for (i <- syms.indices) scanPairs(i) { p =>
      pairN.update(p, pairN.getOrElse(p, 0L) + cnt(i))
      pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += i
    }
    // max count first, ties to the lexicographically smallest pair
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](
      Ordering.Tuple3(Ordering.Long, Ordering.String.reverse, Ordering.String.reverse))
    pairN.foreach { case ((a, b), n) => heap.enqueue((n, a, b)) }
    val learned = mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var done = false
    while (!done && learned.size < merges && heap.nonEmpty) {
      val (n, a, b) = heap.dequeue()
      // stale-entry check: the heap may hold superseded counts
      if (pairN.get((a, b)).contains(n)) {
        if (n < 2) done = true
        else {
          val ab = a + b
          learned += ((learned.size + 1L, a, b, ab, n))
          val touched = mutable.HashSet.empty[(String, String)]
          // snapshot: the index is maintained lazily (words are never
          // removed), so re-check the pair is still present per word
          for (i <- pairWords((a, b)).toArray) {
            val s = syms(i)
            var hit = false; var j = 0
            while (!hit && j + 1 < s.length) { hit = s(j) == a && s(j + 1) == b; j += 1 }
            if (hit) {
              scanPairs(i) { p => pairN.update(p, pairN(p) - cnt(i)); touched += p }
              val out = mutable.ArrayBuffer.empty[String]
              j = 0
              while (j < s.length) {
                if (j + 1 < s.length && s(j) == a && s(j + 1) == b) { out += ab; j += 2 }
                else { out += s(j); j += 1 }
              }
              syms(i) = out.toArray
              scanPairs(i) { p =>
                pairN.update(p, pairN.getOrElse(p, 0L) + cnt(i))
                pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += i
                touched += p
              }
            }
          }
          touched.foreach { p =>
            pairN.get(p) match {
              case Some(m) if m > 0 => heap.enqueue((m, p._1, p._2))
              case _ => pairN.remove(p)
            }
          }
        }
      }
    }
    (learned.toSeq, syms)
  }

  /** The longest serially-faithful batch from one round's pair counts,
    * given the top-K pair rows in serial-argmax order (n desc, left,
    * right) and the current full symbol vocabulary.
    *
    * Interference analysis: applying merge (a, b) → "ab" destroys
    * instances of (a, b) itself, of (b, *) (the b was consumed as the
    * merge's right half... precisely, a (b, y) instance dies when its b
    * was preceded by a), and of (*, a) (the a was followed by b); it
    * creates instances of (x, "ab") and ("ab", y), whose counts are
    * bounded by the old counts of (x, a) and (b, y). Pairs of form
    * (a, z≠b) and (z≠a, b) are untouched, which is what makes batches
    * long — pairs may share the accepted LEFT symbol as left, or the
    * accepted RIGHT symbol as right, freely.
    *
    * Scan in serial order, accepting (s, t, n) while n ≥ 2, t is no
    * accepted pair's left, s is no accepted pair's right, and the
    * merged string s+t is not an existing symbol (else new instances
    * would conflate with an existing pair's count and could jump the
    * order). A SELF-pair (s, s) is special: merging it creates
    * (ss, ss) instances bounded by its own count — a bound outside
    * the lefts/rights conflict scan — so it may only ever close a
    * batch, never sit in the middle of one (see the branch below).
    * The first pair violating any of these sets a barrier B =
    * its count: every changed pair only decreases, and every created
    * pair is bounded by the count of some (*, a)/(b, *) pair — which
    * either ranks below B or would itself have been the first
    * conflict. Accepted pairs with n > B therefore still win their
    * serial round's argmax strictly, so the serial sequence is exactly
    * the accepted list in order. When the scan exhausts a TRUNCATED
    * sample without conflict, unseen pairs rank at or below the K-th
    * count, which becomes the barrier. The argmax itself is serial's
    * next merge unconditionally, so it survives even a barrier tie;
    * counts are non-increasing, so the filter keeps a prefix.
    */
  private[operators] def selectBatch(
      top: Seq[(String, String, Long)],
      sawWholeTable: Boolean,
      maxAccept: Int,
      symbols: scala.collection.Set[String]): Seq[(String, String, Long)] = {
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val lefts = scala.collection.mutable.HashSet.empty[String]
    val rights = scala.collection.mutable.HashSet.empty[String]
    val merged = scala.collection.mutable.HashSet.empty[String]
    var barrier = -1L // count of the first conflicting pair, if any
    var selfIdx = -1 // index of an accepted batch-closing self-pair
    val it = top.iterator
    while (it.hasNext && barrier < 0) {
      val (s, t, n) = it.next()
      if (n < 2) barrier = 1L // serial stop: nothing at or below repeats
      else if (accepted.isEmpty && symbols(s + t)) {
        // the argmax IS serial's next merge even when its merged string
        // collides with an existing symbol — accept it alone and close
        // the batch, since post-merge counts conflate with the symbol's
        accepted += ((s, t, n)); barrier = n
      } else if (lefts(t) || rights(s) || symbols(s + t) || merged(s + t))
        barrier = n
      else if (s == t) {
        // self-pair: merging (s,s) creates (ss,ss) instances bounded
        // only by this pair's OWN count n — a bound the lefts/rights
        // conflict scan never covers, so nothing ranking at or below n
        // may join the batch after it. Accept it as the batch's FINAL
        // member, and only when every earlier member ranks strictly
        // above n: the accepted list must stay a serial prefix, and
        // keeping this pair while the count filter drops a tied
        // earlier member would reorder serial. Otherwise close the
        // batch at n without it (it wins a later round on its own).
        if (accepted.forall(_._3 > n)) {
          selfIdx = accepted.size; accepted += ((s, t, n))
        }
        barrier = n
      } else {
        accepted += ((s, t, n))
        lefts += s; rights += t; merged += (s + t)
      }
    }
    if (barrier < 0 && !sawWholeTable && top.nonEmpty)
      barrier = top.last._3 // unseen pairs rank at or below the K-th count
    accepted.zipWithIndex
      .filter { case (p, i) =>
        i == 0 || i == selfIdx || barrier < 0 || p._3 > barrier }
      .map(_._1).take(maxAccept).toSeq
  }

  /** One-pass left-to-right application of a symbol-disjoint merge
    * batch: the classic greedy BPE scan, except the (pending, next)
    * match consults a literal left→rights lookup instead of one pair.
    * Batches may share a left (or a right) symbol freely, so the
    * lookup maps each left to the ARRAY of its accepted rights —
    * distinct pairs never compete for the same (pend, next) site
    * because a site fixes both symbols. Disjointness (no member's
    * right is another's left, no merged string is a live symbol or
    * another member's output) makes the single pass identical to
    * applying the batch members one at a time in rank order: match
    * sites of different members cannot overlap, and a merged output
    * can never seed a different member's match.
    */
  private[operators] def applyMergeBatch(
      sym: Column, pairs: Seq[(String, String)]): Column = {
    val rightsOf = map(pairs.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (a, ps) => Seq(lit(a), array(ps.map(p => lit(p._2)): _*))
    }: _*)
    val emptyAcc = array().cast("array<string>")
    val noPend = lit(null).cast("string")
    aggregate(
      sym,
      struct(emptyAcc.as("acc"), noPend.as("pend")),
      (st, x) => {
        val acc = st.getField("acc")
        val pend = st.getField("pend")
        // missing key → null array → array_contains → null → falls
        // through to the no-merge branch, as required
        when(pend.isNull, struct(acc.as("acc"), x.as("pend")))
          .when(array_contains(element_at(rightsOf, pend), x),
            struct(concat(acc, array(concat(pend, x))).as("acc"), noPend.as("pend")))
          .otherwise(struct(concat(acc, array(pend)).as("acc"), x.as("pend")))
      },
      st => when(st.getField("pend").isNull, st.getField("acc"))
        .otherwise(concat(st.getField("acc"), array(st.getField("pend")))))
  }

  /** Adjacent symbol pairs of a word, weighted by its corpus count. */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("sym")) > 1)
      .select(col("n"), explode(zip_with(
        slice(col("sym"), lit(1), size(col("sym")) - 1),
        slice(col("sym"), lit(2), size(col("sym")) - 1),
        (x, y) => struct(x.as("left"), y.as("right")))).as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum(col("n")).as("n"))

  /** Batched distributed training loop (the beyond-gate path); returns
    * the learned merge rows in serial rank order plus the per-round
    * disjoint batches (for replaying the application with one pass per
    * round instead of one per merge).
    */
  private[operators] def trainBatches(vocabIn: DataFrame, merges: Int)
    : (Seq[(Long, String, String, String, Long)], Seq[Seq[(String, String)]]) = {
    var vocab = vocabIn.select("sym", "n")
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, String)]]
    // live symbol vocabulary, maintained driver-side: the character
    // alphabet (tiny — one distinct pass over the checkpointed types)
    // plus every merged symbol learned so far. Symbols that later merge
    // away entirely are retained — a stale entry can only shorten a
    // batch (conservative), never break serial fidelity.
    val symbols = scala.collection.mutable.HashSet.empty[String]
    vocab.select(explode(col("sym")).as("s")).distinct().collect()
      .foreach(r => symbols += r.getString(0))
    var exhausted = false
    while (learned.size < merges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("n").desc, col("left"), col("right"))
        .limit(topK).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val batch = selectBatch(top, sawWholeTable = top.size < topK,
        maxAccept = math.min(maxBatch, merges - learned.size),
        symbols = symbols)
      if (batch.isEmpty) exhausted = true
      else {
        batch.foreach { case (a, b, n) =>
          learned += ((learned.size + 1L, a, b, a + b, n))
          symbols += (a + b)
        }
        batches += batch.map(p => (p._1, p._2))
        vocab = vocab
          .select(applyMergeBatch(col("sym"), batch.map(p => (p._1, p._2))).as("sym"), col("n"))
          .localCheckpoint() // bound lineage: one materialization per round
      }
    }
    (learned.toSeq, batches.toSeq)
  }

  /** Train `merges` BPE merge rules over the corpus; returns the merge
    * table (rank, left, right, merged, n) in training order. Stops
    * early if no pair repeats. `smallTypeLimit` gates the driver fast
    * path (tests force the distributed rounds by passing 0).
    */
  def train(spark: SparkSession, dir: String,
            merges: Int = defaultMerges,
            smallTypeLimit: Long = driverTypeLimit): DataFrame =
    mergeRows(spark, graft.Memo(modelKey(spark, dir, "merges", merges,
      smallTypeLimit))(trainMerges(spark, dir, merges, smallTypeLimit)))

  /** The un-memoized merge learning [[train]] serves from the memo
    * (the bench-only cold row `text_bpe_train` calls it directly).
    */
  private[graft] def trainMerges(spark: SparkSession, dir: String,
      merges: Int = defaultMerges,
      smallTypeLimit: Long = driverTypeLimit): Seq[(Long, String, String, String, Long)] = {
    val (vocab, nTypes) = wordTypes(spark, dir)
    if (nTypes <= smallTypeLimit) trainDriver(collectTypes(vocab), merges)._1
    else trainBatches(vocab, merges)._1
  }

  private[graft] def mergeRows(spark: SparkSession,
      learned: Seq[(Long, String, String, String, Long)]): DataFrame = {
    import spark.implicits._
    learned.toDF("rank", "left", "right", "merged", "n")
  }

  /** Install a [[graft.ModelStore]]-reloaded tokenizer (merge table +
    * segmentation) into the serving slots so every consumer —
    * [[train]]'s merge view, [[encode]], [[fertility]], [[vocab]] —
    * serves from the reloaded model. The segmentation frame is
    * re-checkpointed so the slot holds a materialized table, exactly
    * like the trained path.
    */
  private[graft] def installModel(spark: SparkSession, dir: String,
      merges: Int, smallTypeLimit: Long,
      trainRows: Seq[(Long, String, String, String, Long)],
      seg: DataFrame): Unit = {
    graft.Memo.install(modelKey(spark, dir, "merges", merges, smallTypeLimit),
      trainRows)
    graft.Memo.install(modelKey(spark, dir, "seg", merges, smallTypeLimit),
      seg.localCheckpoint(true))
  }

  /** Train-then-segment: the per-word-TYPE subword arrays under the
    * learned merges — the tokenizer model artifact every downstream
    * consumer (fertility, corpus encoding, streaming serving) reuses.
    * Application runs on the word-type table only (driver path: the
    * training state IS the segmentation; distributed path: one batched
    * pass per training round) — the corpus itself is never re-segmented
    * row by row, the 1000× type-table reduction again. The driver path
    * builds the table on the driver, so only the distributed path
    * checkpoints it.
    */
  private[graft] def segmentation(spark: SparkSession, dir: String,
      merges: Int = defaultMerges,
      smallTypeLimit: Long = driverTypeLimit): DataFrame = {
    import spark.implicits._
    graft.Memo(modelKey(spark, dir, "seg", merges, smallTypeLimit)) {
      val (vocab, nTypes) = wordTypes(spark, dir)
      if (nTypes <= smallTypeLimit) {
        val rows = vocab.select("w", "sym", "n").collect()
        val types = rows.map(r => (r.getSeq[String](1).toArray, r.getLong(2)))
        val (_, finalSyms) = trainDriver(types, merges)
        rows.map(_.getString(0)).zip(finalSyms.map(_.toSeq))
          .toSeq.toDF("w", "sub")
      } else {
        val batches = trainBatches(vocab, merges)._2
        var t = vocab.select(col("w"), col("sym"))
        // replay the training batches: one pass (and one lineage
        // cut) per ROUND, not per merge — a 256-rule vocabulary
        // would otherwise nest 256 aggregate expressions in one plan
        batches.foreach { batch =>
          t = t.select(col("w"), applyMergeBatch(col("sym"), batch).as("sym"))
            .localCheckpoint()
        }
        t.withColumnRenamed("sym", "sub").localCheckpoint(true)
      }
    }
  }

  /** Per-language subword fertility (subwords per whitespace token)
    * before/after BPE: the [[segmentation]] artifact rejoined to the
    * corpus by word via broadcast. The fertility drop vs raw characters
    * is the metric tokenizer training optimizes.
    */
  def fertility(spark: SparkSession, dir: String,
                merges: Int = defaultMerges,
                smallTypeLimit: Long = driverTypeLimit): DataFrame = {
    val segmented = segmentation(spark, dir, merges, smallTypeLimit)
      .select(col("w"), size(col("sub")).cast("long").as("n_subwords"))
    Tables(spark, dir, "documents")
      .select(col("lang"), explode(split(trim(col("text")), " ")).as("w"))
      .join(broadcast(segmented), "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_subwords")).as("n_subwords"),
        sum(length(col("w")) + 1).cast("long").as("n_chars_eow"))
      .select(col("lang"), col("n_words"),
        (col("n_subwords").cast("double") / col("n_words")).as("bpe_fertility"),
        (col("n_chars_eow").cast("double") / col("n_words")).as("char_fertility"))
      .orderBy("lang")
  }

  /** Corpus ENCODING with the trained tokenizer — the step a pipeline
    * actually ships: every document rendered as its subword-token
    * sequence (with `</w>` end-of-word markers), plus its token count.
    *
    * Scale shape: the document side is one narrow pass (posexplode of
    * whitespace words — position kept so the sequence reassembles in
    * order); the model side is the word-type [[segmentation]] artifact,
    * broadcast here (post-count type tables are ~1000× smaller than
    * the corpus; past broadcast range the same plan runs as a shuffle
    * equi-join on `w` — no step is corpus×vocab). Reassembly is one
    * groupBy(doc_id) with an order-canonical `array_sort` on (pos,
    * subwords), so the output is partition-count-independent.
    */
  def encode(spark: SparkSession, dir: String,
             merges: Int = defaultMerges,
             smallTypeLimit: Long = driverTypeLimit): DataFrame = {
    val segmented = segmentation(spark, dir, merges, smallTypeLimit)
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), " ")).as(Seq("pos", "w")))
      .join(broadcast(segmented), "w")
      .groupBy(col("doc_id"))
      .agg(
        sum(size(col("sub"))).cast("long").as("n_tokens"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("sub")))),
          x => x.getField("sub"))), " ").as("tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer VOCABULARY export — the id table inference actually
    * consumes: base alphabet first (every character symbol plus the
    * end-of-word marker, lexicographic ids from 1), then the learned
    * merges in training-rank order. The table is model-sized (alphabet
    * + merge budget), but the lexicographic ids still come from
    * [[Ranks.global]]'s range-partitioned rank rather than a
    * single-partition global window — at a 100k-token production
    * vocabulary the distributed form costs nothing extra and keeps the
    * empty-partition WindowExec ban uniform across the surface.
    */
  def vocab(spark: SparkSession, dir: String,
            merges: Int = defaultMerges,
            smallTypeLimit: Long = driverTypeLimit): DataFrame = {
    val alpha = Tables(spark, dir, "documents")
      .select(explode(split(trim(col("text")), " ")).as("w")).distinct()
      .select(explode(concat(split(col("w"), ""), array(lit("</w>")))).as("token"))
      .distinct()
    val base = Ranks.global(alpha, "token_id", col("token"))
      .select(col("token_id"), col("token"), lit("base").as("kind"))
    val nAlpha = alpha.count()
    val learned = train(spark, dir, merges, smallTypeLimit)
      .select((col("rank") + lit(nAlpha)).as("token_id"),
        col("merged").as("token"), lit("merged").as("kind"))
    base.unionByName(learned).orderBy("token_id")
  }

  /** Streaming tokenizer SERVING: the trained segmentation rides the
    * plan as one literal map (the vocab-sized model artifact — the same
    * "trained artifacts ride plans as literals" discipline as the
    * streaming classifier and cell-assignment paths), so encoding a
    * document stream is a stateless narrow projection: no join, no
    * aggregation state, watermark-free append mode. Words absent from
    * the training corpus (possible on a live stream; impossible in
    * [[encode]]'s batch closed-world) fall back to character
    * segmentation + the end-of-word marker — the standard
    * open-vocabulary degradation, which keeps serving total.
    *
    * Scale shape: the map literal is bounded by [[driverTypeLimit]]
    * (the driver-path gate); a beyond-gate vocabulary serves via the
    * batch [[encode]] join instead. Per-row cost is O(words · lookup).
    */
  def encodeServe(docs: DataFrame, segmented: Map[String, Seq[String]]): DataFrame = {
    require(segmented.size <= driverTypeLimit,
      "vocabulary exceeds the literal-artifact gate; serve via the batch join")
    val segLit = typedLit(segmented)
    val words = split(trim(col("text")), " ")
    docs
      .withColumn("__toks", flatten(transform(words, w =>
        coalesce(element_at(segLit, w),
          concat(split(w, ""), array(lit("</w>")))))))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        array_join(col("__toks"), " ").as("tokens"))
  }

  /** The serving artifact for [[encodeServe]]: word → subwords, trained
    * and collected once (driver-path scale only — the same bound as the
    * training fast path).
    */
  def trainedSegmentation(spark: SparkSession, dir: String,
      merges: Int = defaultMerges): Map[String, Seq[String]] =
    segmentation(spark, dir, merges).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
}
