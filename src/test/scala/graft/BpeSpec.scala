package graft

import graft.operators.BpeTrainer

/** BPE merge training against a from-scratch serial reference: the
  * exact merge sequence (pair, merged symbol, weighted count) must
  * match Sennrich-style training over the collected word counts.
  */
class BpeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Serial reference BPE: same determinism contract (max count, ties
    * to lexicographically smallest pair; left-to-right non-overlapping
    * application; stop when no pair repeats).
    */
  private def referenceBpe(wordCounts: Map[String, Long],
                           merges: Int): Seq[(Long, String, String, String, Long)] = {
    var vocab: Map[List[String], Long] = wordCounts.toSeq
      .map { case (w, n) => (w.split("").toList :+ "</w>") -> n }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var rank = 1L
    var done = false
    while (rank <= merges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (sym, n) =>
        sym.sliding(2).foreach {
          case List(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + n
          case _ =>
        }
      }
      val best = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.headOption
      best match {
        case Some(((a, b), n)) if n >= 2 =>
          out += ((rank, a, b, a + b, n))
          vocab = vocab.toSeq.map { case (sym, cnt) =>
            val merged = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < sym.length) {
              if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
                merged += (a + b); i += 2
              } else { merged += sym(i); i += 1 }
            }
            merged.toList -> cnt
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          rank += 1
        case _ => done = true
      }
    }
    out.toSeq
  }

  test("driver-path merge sequence equals the serial reference exactly") {
    val wordCounts = Tables(spark, dir, "documents")
      .select("text").collect()
      .flatMap(_.getString(0).trim.split(" "))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = referenceBpe(wordCounts, BpeTrainer.defaultMerges)
    assert(expected.nonEmpty)

    val got = BpeTrainer.train(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got === expected)
    // merges are usable: ranks contiguous from 1, merged = left+right
    got.foreach { case (rk, l, r, m, n) =>
      assert(m === l + r); assert(n >= 2); assert(rk >= 1)
    }
  }

  test("random corpora: distributed merges equal the serial reference (3 seeds)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcd"
      def word() = (1 to (1 + rnd.nextInt(6)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val docs = (1 to 30).map { i =>
        (i.toLong, (1 to (3 + rnd.nextInt(10))).map(_ => word()).mkString(" "),
          "en", "s")
      }
      val dir = java.nio.file.Files.createTempDirectory(s"bpe-prop-$seed").toString
      docs.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val wordCounts = docs.flatMap(_._2.split(" "))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      // 48 merges on a 4-letter alphabet: forces several batched
      // rounds with shared-left/shared-right pairs, barrier conflicts,
      // and merged strings colliding with earlier merged symbols —
      // the adversarial regime for batch selection. Both the driver
      // fast path and the force-gated distributed rounds must equal
      // the serial reference.
      val expected = referenceBpe(wordCounts, 48)
      val gotDriver = BpeTrainer.train(spark, dir, merges = 48).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(gotDriver === expected, s"driver path, seed=$seed")
      val gotDist = BpeTrainer
        .train(spark, dir, merges = 48, smallTypeLimit = 0L).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(gotDist === expected, s"distributed path, seed=$seed")
    }
  }

  test("self-pair counterexample: distributed path equals serial (ADVICE r4)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // {aaaaaa:60, cde:50, cdf:50}: serial merges (a,a,300), (aa,aa,120),
    // (c,d,100), … — an unguarded batch accepts (c,d,100) alongside
    // (a,a,300) because the created (aa,aa) pairs are bounded only by
    // the self-pair's own count, outside the lefts/rights conflict scan
    val docs = Seq(
      (1L, Seq.fill(60)("aaaaaa").mkString(" "), "en", "s"),
      (2L, Seq.fill(50)("cde").mkString(" "), "en", "s"),
      (3L, Seq.fill(50)("cdf").mkString(" "), "en", "s"))
    val dir = java.nio.file.Files.createTempDirectory("bpe-selfpair").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val wordCounts = docs.flatMap(_._2.split(" "))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = referenceBpe(wordCounts, 16)
    assert(expected.take(3).map(m => (m._2, m._3, m._5)) ===
      Seq(("a", "a", 300L), ("aa", "aa", 120L), ("c", "d", 100L)))
    val gotDist = BpeTrainer
      .train(spark, dir, merges = 16, smallTypeLimit = 0L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(gotDist === expected)
  }

  test("repeat-heavy random corpora: distributed equals serial (3 seeds)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    (11 to 13).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // two-letter alphabet biased to long 'a' runs: self-pairs (a,a),
      // (aa,aa), (aaaa,aaaa) dominate round after round — the
      // adversarial regime for the self-pair batch-closing rule
      def word() = (1 to (2 + rnd.nextInt(7)))
        .map(_ => if (rnd.nextInt(4) == 0) "b" else "a").mkString
      val docs = (1 to 40).map { i =>
        (i.toLong, (1 to (3 + rnd.nextInt(8))).map(_ => word()).mkString(" "),
          "en", "s")
      }
      val dir = java.nio.file.Files.createTempDirectory(s"bpe-self-$seed").toString
      docs.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val wordCounts = docs.flatMap(_._2.split(" "))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expected = referenceBpe(wordCounts, 48)
      val gotDist = BpeTrainer
        .train(spark, dir, merges = 48, smallTypeLimit = 0L).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(gotDist === expected, s"distributed path, seed=$seed")
    }
  }

  test("fertility: BPE compresses vs characters, floor of 1 subword/word") {
    val rows = BpeTrainer.fertility(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, nWords, bpe, chars) =>
      assert(nWords > 0)
      assert(bpe >= 1.0, s"$lang: fewer than one subword per word")
      assert(bpe < chars,
        s"$lang: BPE ($bpe) must compress vs character segmentation ($chars)")
    }
    // totals conserve: per-language word counts sum to the corpus total
    val corpusWords = Tables(spark, dir, "documents")
      .select("text").collect()
      .map(_.getString(0).trim.split(" ").length.toLong).sum
    assert(rows.map(_._2).sum === corpusWords)
  }

  test("fertility: driver and distributed paths segment identically") {
    val got = BpeTrainer.fertility(spark, dir, merges = 12).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val dist = BpeTrainer
      .fertility(spark, dir, merges = 12, smallTypeLimit = 0L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got === dist)
  }

  test("encode: tokens are lossless — stripping markers reconstructs each document") {
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val encoded = BpeTrainer.encode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(encoded.length === docs.size)
    encoded.foreach { case (id, nTokens, tokens) =>
      assert(nTokens === tokens.split(" ").length.toLong)
      // BPE segmentation only regroups characters: folding tokens back
      // together (word boundary at each end-of-word marker) recovers
      // the trimmed text exactly
      val words = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      tokens.split(" ").foreach { t =>
        if (t.endsWith("</w>")) {
          sb.append(t.dropRight(4)); words += sb.toString(); sb.clear()
        } else sb.append(t)
      }
      assert(sb.isEmpty, s"doc $id: dangling subwords after the last marker")
      assert(words.mkString(" ") === docs(id).trim, s"doc $id does not reconstruct")
    }
  }

  test("encode: token counts agree with the fertility segmentation totals") {
    val nTokens = BpeTrainer.encode(spark, dir).collect().map(_.getLong(1)).sum
    val fert = BpeTrainer.fertility(spark, dir).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    val fertTokens = fert.map { case (w, f) => f * w }.sum
    assert(math.abs(nTokens - fertTokens) < 1e-6 * fertTokens + 1e-6,
      s"encode total $nTokens vs fertility total $fertTokens")
  }

  test("vocab: contiguous ids, base-then-merged, and encode is closed over it") {
    val rows = BpeTrainer.vocab(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.map(_._1).toSeq === (1L to rows.length).toSeq, "ids contiguous from 1")
    val (base, merged) = rows.partition(_._3 == "base")
    assert(base.map(_._1).max < merged.map(_._1).min, "base ids precede merge ids")
    assert(base.map(_._2).toSeq === base.map(_._2).toSeq.sorted, "alphabet lexicographic")
    assert(base.exists(_._2 == "</w>"))
    val trained = BpeTrainer.train(spark, dir).collect().map(_.getString(3)).toSeq
    assert(merged.map(_._2).toSeq === trained, "merge section = training order")
    // closure: every token the encoder emits is a vocab entry
    val vocabTokens = rows.map(_._2).toSet
    val emitted = BpeTrainer.encode(spark, dir).collect()
      .flatMap(_.getString(2).split(" ")).toSet
    val missing = emitted -- vocabTokens
    assert(missing.isEmpty, s"encoded tokens missing from vocab: ${missing.take(5)}")
  }

  test("streaming serve: per-row parity with batch encode, OOV falls back to characters") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val seg = BpeTrainer.trainedSegmentation(spark, dir)
    val batch = BpeTrainer.encode(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").limit(30)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = BpeTrainer.encodeServe(in.toDF().toDF("doc_id", "text"), seg)
      .writeStream.outputMode("append").format("memory")
      .queryName("bpe_stream").start()
    try {
      val (wave1, wave2) = docs.splitAt(15)
      in.addData(wave1.toIndexedSeq); q.processAllAvailable()
      // wave 2 plus an out-of-vocabulary document: every word unseen
      in.addData(wave2.toIndexedSeq :+ (-1L, "zqzq xyxy")); q.processAllAvailable()
      val streamed = spark.table("bpe_stream").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(streamed.size === 31)
      docs.foreach { case (id, _) =>
        assert(streamed(id) === batch(id), s"doc $id diverges from batch encode")
      }
      // OOV degradation: pure character segmentation with markers
      assert(streamed(-1L) === ((10L, "z q z q </w> x y x y </w>")))
    } finally q.stop()
  }

  test("encode: driver and distributed paths produce identical sequences") {
    val got = BpeTrainer.encode(spark, dir, merges = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val dist = BpeTrainer
      .encode(spark, dir, merges = 12, smallTypeLimit = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got === dist)
  }

  test("type-count gate boundary: limit == types and limit == types - 1 agree") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def driverBuilt(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
    import org.apache.spark.sql.functions._
    val nTypes = Tables(spark, dir, "documents")
      .select(explode(split(trim(col("text")), " ")).as("w")).distinct().count()
    def seg(limit: Long) = BpeTrainer.segmentation(spark, dir, 24, limit)
    def rows(limit: Long) = seg(limit).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // at the limit the driver builds the table (no checkpoint); one
    // below, the distributed rounds run and checkpoint it
    assert(driverBuilt(seg(nTypes)))
    assert(!driverBuilt(seg(nTypes - 1)))
    assert(rows(nTypes) === rows(nTypes - 1))
    assert(rows(nTypes).size.toLong === nTypes)
    def merges(limit: Long) = BpeTrainer.trainMerges(spark, dir, 24, limit)
    assert(merges(nTypes) === merges(nTypes - 1))
    assert(merges(nTypes).nonEmpty)
  }
}
