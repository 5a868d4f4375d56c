package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic hot-line corpus generator for the line-dedup skew
  * rehearsal (round-18 verdict item 6): N documents of 40 unique
  * pseudo-words each, with every 5th document carrying the SAME
  * 5-word boilerplate line prepended — one line text present in 20%
  * of the corpus, the C4 cookie-banner shape that makes the keep
  * join's line key maximally hot. The ×10 slope of
  * `text_line_dedup` over two such corpora (N and 10N) certifies the
  * restructured duplicated-firsts join under real skew, which the
  * md5-unique synthetic corpus cannot exercise.
  *
  * Usage: runMain graft.tools.HotLineGen <outDir> <nDocs>
  * (words derive from md5(doc_id, position) — regeneration is
  * byte-identical; the unique bodies guarantee the ONLY duplicated
  * line texts are the boilerplate and any md5-chunk collisions,
  * which the 6-hex-char words make negligible).
  */
object HotLineGen {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/hotline1")
    val nDocs = if (args.length > 1) args(1).toLong else 50000L
    val spark = graft.LocalSession("WARN")
    val body = "array_join(transform(sequence(1, 40), " +
      "i -> concat('t', substr(md5(concat(doc_id, '_', i)), 1, 6))), ' ')"
    spark.range(1, nDocs + 1).toDF("doc_id")
      .select(col("doc_id"), when(col("doc_id") % 5 === 0,
          concat(lit("subscribe to our newsletter today "), expr(body)))
        .otherwise(expr(body)).as("text"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[hotline] wrote $nDocs docs to $out (20% carry the hot line)")
    spark.stop()
  }
}
