package graft

import graft.functions._
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.functions._

/** The SQL function surface must agree with the Column API it wraps —
  * a spark.sql user and a DataFrame user get the same kernels.
  */
class GraftFunctionsSpec extends SparkSpec {

  /** One SQL call of a kernel: its child columns and statics, the same
    * call through the Column API, and wrong-typed children with the
    * type-check message they must raise.
    */
  private case class Call(children: Seq[String], statics: Seq[Int], column: Column,
                          badChildren: Seq[String], badMessage: String)

  private val calls: Map[Kernel, Call] = Map(
    NgramMinHashMd5 -> Call(Seq("s"), Seq(8, 4), NgramMinHashMd5.signature(col("s"), 8, 4),
      Seq("v"), "ngram_minhash_md5 needs a string child"),
    NgramMinHashAffine -> Call(Seq("s"), Seq(8, 8),
      NgramMinHashAffine.signature(col("s"), 8, 8),
      Seq("v"), "ngram_minhash_affine needs a string child"),
    RollingHash -> Call(Seq("s"), Seq(16), RollingHash.of(col("s"), 16),
      Seq("v"), "rolling_hash needs a string child"),
    WindowHashes -> Call(Seq("s"), Seq(16), WindowHashes.of(col("s"), 16),
      Seq("v"), "window_hashes needs a string child"),
    DupSpanIslands -> Call(Seq("p"), Seq(4), DupSpanIslands.of(col("p"), 4),
      Seq("s"), "dup_span_islands needs array<bigint> positions"),
    CutDupSpans -> Call(Seq("s", "p"), Seq(4), CutDupSpans.of(col("s"), col("p"), 4),
      Seq("p", "p"), "cut_dup_spans needs (string, array<bigint>)"),
    WinnowFingerprints -> Call(Seq("s"), Seq(8, 4), WinnowFingerprints.of(col("s"), 8, 4),
      Seq("v"), "winnow needs a string child"),
    DotProductD -> Call(Seq("v", "d"), Nil, DotProductD(col("v"), col("d")),
      Seq("s", "v"), "dot_product_d needs two array<float|double> children"),
    Int8QuantStats -> Call(Seq("v"), Nil, Int8QuantStats(col("v")),
      Seq("s"), "int8_quant_stats needs an array<float|double> child"),
    Lz78PhraseCount -> Call(Seq("s"), Nil, Lz78PhraseCount(col("s")),
      Seq("v"), "lz78_phrase_count needs a string child"),
    BigramEntropyStats -> Call(Seq("s"), Nil, BigramEntropyStats(col("s")),
      Seq("v"), "bigram_entropy_stats needs a string child"),
    GreedyChunkEnds -> Call(Seq("s"), Seq(12), GreedyChunkEnds(col("s"), 12),
      Seq("v"), "greedy_chunk_ends needs a string child"))

  private def sql(k: Kernel, args: Seq[String]): String =
    s"SELECT ${k.name}(${args.mkString(", ")}) FROM gf"

  test("registered SQL functions == Column API, all four kernels") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("the quick brown fox jumps over it", Seq(0.5f, -1.5f, 2.0f)))
      .toDF("s", "v").createOrReplaceTempView("gf")

    val viaSql = spark.sql(
      """SELECT ngram_minhash_md5(s, 8, 4) AS m,
        |       ngram_minhash_affine(s, 8, 8) AS a,
        |       rolling_hash(s, 16) AS r,
        |       dot_product_d(v, v) AS d
        |FROM gf""".stripMargin).collect().head
    val viaCol = spark.table("gf").select(
      NgramMinHashMd5.signature(col("s"), 8, 4).as("m"),
      NgramMinHashAffine.signature(col("s"), 8, 8).as("a"),
      RollingHash.of(col("s"), 16).as("r"),
      DotProductD(col("v"), col("v")).as("d")).collect().head

    assert(viaSql.getSeq[String](0) === viaCol.getSeq[String](0))
    assert(viaSql.getSeq[Long](1) === viaCol.getSeq[Long](1))
    assert(viaSql.getSeq[Long](2) === viaCol.getSeq[Long](2))
    assert(viaSql.getDouble(3) === viaCol.getDouble(3))
  }

  test("every declared kernel: SQL == Column API, type and literal checks, plan name") {
    GraftFunctions.register(spark)
    // one row over a Range, not a local relation, so the kernel call
    // stays in the optimized plan instead of being folded at planning
    spark.range(1).selectExpr(
      "concat('the quick brown fox jumps over the quick brown dog ', CAST(id AS STRING)) AS s",
      "array(CAST(id AS FLOAT) + 0.5F, -1.5F, 2.0F) AS v",
      "array(CAST(id AS DOUBLE) + 0.25D, 3.0D, -1.0D) AS d",
      "array(id + 3L, 5L, 20L, 21L) AS p").createOrReplaceTempView("gf")
    assert(calls.keySet === GraftFunctions.all.toSet)
    GraftFunctions.all.foreach { k =>
      val c = calls(k)
      val statics = c.statics.map(_.toString)
      val viaSql = spark.sql(sql(k, c.children ++ statics))
      val viaCol = spark.table("gf").select(c.column)
      assert(viaSql.collect().head.get(0) === viaCol.collect().head.get(0), k.name)
      assert(viaSql.queryExecution.optimizedPlan.toString.contains(k.name), k.name)

      val typeErr = intercept[Exception] {
        spark.sql(sql(k, c.badChildren ++ statics)).collect()
      }
      assert(typeErr.getMessage.contains(c.badMessage), k.name)

      if (c.statics.nonEmpty) {
        val literalErr = intercept[Exception] {
          spark.sql(sql(k, c.children ++ ("length(s)" +: statics.tail))).collect()
        }
        assert(literalErr.getMessage.contains("integer literal"), k.name)
      }
    }
  }

  test("static parameters must be integer literals") {
    GraftFunctions.register(spark)
    spark.range(1).selectExpr("CAST(id AS STRING) AS s")
      .createOrReplaceTempView("gf_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT ngram_minhash_md5(s, length(s), 4) FROM gf_bad").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("GraftExtensions injects without error (session-build path)") {
    new GraftExtensions().apply(new SparkSessionExtensions())
  }
}
